package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Fns => F, QueryModule, Tables => T}

/** Warehouse-maintenance operators: CDC MERGE/upsert (q42) and SCD2
  * dimension history build (q43).
  *
  * The reference pipeline maintains its warehouse by DROP + CTAS replace
  * (/root/reference/dags/patient_claims_plus_postgres.py:109-117,161-189)
  * — the full-rewrite idiom that cannot scale past a single Postgres node.
  * These two operators are the incremental alternatives every warehouse
  * user of the reference would reach for next: apply a change batch in
  * place (MERGE) and keep attribute history instead of overwriting it
  * (SCD type 2).
  *
  * Scale notes (100 TB):
  *  - q42's merge is ONE join on the natural key. A CDC batch is orders of
  *    magnitude smaller than the base table, so the changes side
  *    broadcasts (AQE threshold); a fact-sized batch degrades to a
  *    sort-merge join on the co-partitioned key, and on a bucketed base
  *    layout ([[Layout.writeBucketed]]) that join plans with ZERO
  *    Exchange. Rewrite cost at the sink is per-partition (dynamic
  *    partition overwrite), never the full table.
  *  - q43's history build is two per-key window passes plus one run-keyed
  *    aggregate — every window partitions by the dimension key (state
  *    bounded by one entity's change count), no global window anywhere.
  */
object Warehouse extends QueryModule {

  /** Exact +10% price bump for merge updates: DECIMAL(18,2) × DECIMAL(2,1)
    * → DECIMAL(21,3), exact in both engines (no float rounding). */
  private def bump(c: org.apache.spark.sql.Column) =
    c.multiply(lit("1.1").cast(DecimalType(2, 1)))

  /** The table's stored state shape: (order_key, cust_key, status,
    * price DECIMAL(21,3), verdict). Price stays DECIMAL in storage —
    * exact, order-free to aggregate — and casts to DOUBLE only at query
    * output (`Fns.od`), per the §7.5 determinism discipline. `verdict`
    * is last-operation lineage (the `_change_type` idiom of CDC tables):
    * 'K' at initial load, then whatever op last touched the row. */
  private[graft] def ordersInitState(s: SparkSession, d: String): DataFrame =
    T.orders(s, d).select(
      col("o_orderkey").as("order_key"), col("o_custkey").as("cust_key"),
      col("o_orderstatus").as("status"),
      F.dec2(col("o_totalprice")).cast(DecimalType(21, 3)).as("price"),
      lit("K").as("verdict"))

  /** q42's deterministic CDC batch: update (op=U: price +10%), delete (D)
    * or insert (I: fresh key, status 'N') by o_orderkey % 20 residue
    * 0/1/2. */
  private[graft] def ordersChanges(s: SparkSession, d: String): DataFrame = {
    val m = col("o_orderkey") % 20
    T.orders(s, d).filter(m.isin(0, 1, 2)).select(
      when(m === 2, col("o_orderkey") + 1000000000L)
        .otherwise(col("o_orderkey")).as("k"),
      when(m === 0, "U").when(m === 1, "D").otherwise("I").as("op"),
      when(m === 0, bump(F.dec2(col("o_totalprice"))))
        .when(m === 2, F.dec2(col("o_totalprice")).cast(DecimalType(21, 3)))
        .as("c_price"),
      when(m === 2, col("o_custkey")).as("c_cust"),
      when(m === 2, lit("N")).as("c_status"))
  }

  /** The MERGE kernel shared by q42 (one-shot plan), q124 (the versioned
    * snapshot commit) and [[Snapshot.mergeCow]]'s rewrite step: full-outer
    * join state×changes on the key, then per-row verdict — base-only rows
    * carry through keeping their lineage, U rows take the new price, D
    * rows drop, I rows (change-only by construction) append. Works on ANY
    * subset of the state ([[Snapshot.mergeCow]] hands it only the
    * matched rows, or the touched files' rows): correctness needs every
    * change key's base row present IF one exists, and base-only rows
    * pass through unchanged — the key-local contract mergeCow states. */
  private[graft] def applyOrdersChanges(base: DataFrame,
                                        changes: DataFrame): DataFrame =
    base.join(changes, base("order_key") === changes("k"), "full_outer")
      .filter(coalesce(col("op"), lit("K")) =!= "D")
      .select(
        coalesce(col("k"), col("order_key")).as("order_key"),
        coalesce(col("c_cust"), col("cust_key")).as("cust_key"),
        coalesce(col("c_status"), col("status")).as("status"),
        coalesce(col("c_price"), col("price")).as("price"),
        coalesce(col("op"), col("verdict")).as("verdict"))

  /** The snapshot-versioned orders table for a fixture dir, built once
    * per (session, dir): v1 = initial load, v2 = q42's CDC batch merged
    * through [[Snapshot.mergeCow]] — the atomic-manifest
    * commit the round-9 VERDICT's "transactional MERGE target" gap asks
    * for. Weak session keys unpin stopped sessions (the q112/q115/q120
    * cache discipline); the table lives under the session-unique temp
    * warehouse, so re-registering from version 0 per session is safe. */
  private val snapCache =
    new scala.collection.mutable.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[String, String]]
  private[graft] def snapOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(d, {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_orders_$sfx"
          Snapshot.commit(ordersInitState(s, d), dir, 0, "order_key")
          Snapshot.mergeCow(s, dir, ordersChanges(s, d), "k",
            applyOrdersChanges)
          dir
        })
    }

  /** The Z-ORDERED orders snapshot for a fixture dir, built once per
    * (session, dir): v1 = plain commit clustered on o_custkey alone
    * (the 1-D layout every single-column sort gives), v2 =
    * [[Snapshot.optimizeZorder]] on (o_custkey, dday) — same rows, the
    * layout a 2-D box predicate can prune on BOTH axes. `dday` is the
    * order date as days since 1992-01-01 (int, well inside the 31-bit
    * z-dimension contract; monotone in the date, so date ranges map to
    * dday ranges exactly). */
  private val zorderCache =
    new scala.collection.mutable.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[String, String]]
  private[graft] def zOrders(s: SparkSession, d: String): String =
    synchronized {
      zorderCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(d, {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_zorders_$sfx"
          val base = T.orders(s, d).select(
            col("o_orderkey"), col("o_custkey"),
            datediff(col("o_orderdate"), lit("1992-01-01")).as("dday"),
            F.dec2(col("o_totalprice")).as("price"))
          Snapshot.commit(base, dir, 0, "o_custkey", nFiles = 16)
          Snapshot.optimizeZorder(s, dir, Seq("o_custkey", "dday"), nFiles = 16)
          dir
        })
    }

  /** [[zOrders]] one axis up: the same orders projection with price in
    * exact integer CENTS as the third integral dimension, committed then
    * rewritten by [[Snapshot.optimizeZorder]] on three axes — the q130
    * serving table.
    * Memoized per (session, dir) beside the 2-D layout (distinct cache
    * key — both tables coexist for the q127-vs-q130 comparison). */
  private[graft] def zOrders3(s: SparkSession, d: String): String =
    synchronized {
      zorderCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#3d", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_zorders3_$sfx"
          val base = T.orders(s, d).select(
            col("o_orderkey"), col("o_custkey"),
            datediff(col("o_orderdate"), lit("1992-01-01")).as("dday"),
            F.cents(col("o_totalprice")).as("price_c"))
          Snapshot.commit(base, dir, 0, "o_custkey", nFiles = 16)
          Snapshot.optimizeZorder(s, dir, Seq("o_custkey", "dday", "price_c"),
            nFiles = 16)
          dir
        })
    }

  /** The small-file compaction table, built once per (session, dir): a
    * quarter-sized base load then three narrow carried-file appends —
    * the per-batch debris a streaming or CDC sink accretes (q126's
    * pattern) — leaving v4 an 11-file layout of full-orders state; then
    * [[Snapshot.compactVersion]] rewrites that state as ONE commit (v5)
    * at a 128 MB file target. State is identical across v4/v5 by
    * construction; only the layout changes. At 100 TB compaction is the
    * standing maintenance op (OPTIMIZE) that keeps scan cost ∝ data, not
    * ∝ commit count — and because it rides the commit protocol, readers
    * and time travel are undisturbed until retention expires the old
    * manifests (SnapshotSpec pins reclaim). */
  private[graft] def compactOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#compact", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_compact_$sfx"
          val base = ordersInitState(s, d)
          val m = col("order_key") % 4
          Snapshot.commit(base.filter(m === 0), dir, 0, "order_key")
          (1 to 3).foreach { i =>
            val mf = Snapshot.manifest(s, dir, i)
            Snapshot.commit(base.filter(m === i), dir, i, "order_key",
              carried = mf.files, nFiles = 2)
          }
          Snapshot.compactVersion(s, dir, 128L << 20)
          dir
        })
    }

  /** The bloom-stamped orders table, built once per (session, dir):
    * orders state committed clustered on CUST_KEY (16 files — so every
    * file's order_key [min,max] spans nearly the whole key domain and
    * min/max stats prune NOTHING for an order_key point probe), then
    * [[Snapshot.optimizeBloom]] stamps per-file sketches on order_key.
    * The layout deliberately mis-serves the probe column — exactly the
    * situation the Bloom sidecar exists for. */
  private[graft] def bloomOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#bloom", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_bloom_$sfx"
          val base = T.orders(s, d).select(
            col("o_orderkey").as("order_key"),
            col("o_custkey").as("cust_key"),
            col("o_orderstatus").as("status"),
            F.dec2(col("o_totalprice")).as("price"))
          Snapshot.commit(base, dir, 0, "cust_key", nFiles = 16)
          Snapshot.optimizeBloom(s, dir, "order_key")
          dir
        })
    }

  /** The string-keyed bloom table, built once per (session, dir): the
    * orders state carrying `ref` = md5 of the order key — the opaque
    * string id (UUID-class) real ingest keys on — clustered on
    * cust_key so `ref` is uncorrelated with the layout, then
    * `Snapshot.optimizeBloom("ref")` stamps per-file sketches over
    * xxhash64(ref). A `ref = '…'` point probe through the front door
    * plans only the files whose sketch might hold the hash. */
  private[graft] def strBloomOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#strbloom", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_strbloom_$sfx"
          val base = T.orders(s, d).select(
            col("o_orderkey").as("order_key"),
            col("o_custkey").as("cust_key"),
            col("o_orderstatus").as("status"),
            F.dec2(col("o_totalprice")).as("price"),
            md5(col("o_orderkey").cast("string").cast("binary")).as("ref"))
          Snapshot.commit(base, dir, 0, "cust_key", nFiles = 16)
          Snapshot.optimizeBloom(s, dir, "ref")
          dir
        })
    }

  /** The converted-lake table, built once per (session, dir): a PLAIN
    * flat parquet directory (4 range-clustered part files — the
    * pre-existing lake) adopted by [[Snapshot.convertParquet]] as v1
    * with ABSOLUTE file references and MEASURED per-file stats (zero
    * bytes copied), then proven to be a full citizen by an
    * [[Snapshot.appendWithRetry]] landing v2 on top — 4 carried source
    * refs + 1 fresh relative file. */
  private[graft] def convertedOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#convert", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val wh = s.conf.get("spark.sql.warehouse.dir")
          val plain = s"$wh/graft_plain_orders_$sfx"
          val dir = s"$wh/graft_snap_convert_$sfx"
          T.orders(s, d).select(
            col("o_orderkey").as("order_key"),
            col("o_custkey").as("cust_key"),
            col("o_orderstatus").as("status"),
            F.dec2(col("o_totalprice")).cast(DecimalType(21, 3))
              .as("price"))
            .repartitionByRange(4, col("order_key"))
            .write.mode("overwrite").parquet(plain)
          Snapshot.convertParquet(s, dir, plain, "order_key")
          val batch = T.orders(s, d)
            .filter(col("o_orderkey") % 10 === 5).select(
              (col("o_orderkey") + 5000000000L).as("order_key"),
              col("o_custkey").as("cust_key"), lit("C").as("status"),
              F.dec2(col("o_totalprice")).cast(DecimalType(21, 3))
                .as("price"))
          Snapshot.appendWithRetry(batch, dir, nFiles = 1)
          dir
        })
    }

  /** The DML-triad table, built once per (session, dir): v1 = orders
    * state clustered on order_key, v2 = COW DELETE (drop 'F' orders in
    * key range [200,399] — range selects files, residual refines), v3 =
    * COW UPDATE (+10% price and verdict 'U' for 'O' orders in
    * [600,899]). Each verb rewrites only the files its range touches;
    * every prior state stays time-travelable — q134 reads v2, q135
    * reads v3, both against oracles that recompute the same DML over
    * raw orders. */
  /** The three-commit DML history q134/q135/q136 (and their oracles)
    * all encode — ONE definition so the staged tables cannot diverge
    * from each other or from the oracle SQL: v1 load, v2 delete 'F'
    * orders in [200,399], v3 update 'O' orders in [600,899] (+10%
    * price, verdict 'U'). */
  private def buildDmlHistory(s: SparkSession, d: String,
                              dir: String): Unit = {
    Snapshot.commit(ordersInitState(s, d), dir, 0, "order_key")
    Snapshot.deleteWhere(s, dir, 200L, 399L, col("status") === "F")
    Snapshot.updateWhere(s, dir, 600L, 899L,
      Map("price" -> bump(col("price")).cast(DecimalType(21, 3)),
          "verdict" -> lit("U")),
      col("status") === "O")
  }

  private[graft] def dmlOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#dml", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_dml_$sfx"
          buildDmlHistory(s, d, dir)
          dir
        })
    }

  /** The DELETION-VECTOR table, built once per (session, dir): v1 =
    * orders load, v2 = merge-on-read DELETE of the 'F' orders in key
    * range [200,399] ([[Snapshot.deleteWhereDV]] — positions into the
    * manifest, ZERO data files written), v3 = a second DV delete of the
    * 'O' orders in [300,599], overlapping v2's files so the vectors
    * MERGE. The file set is identical across all three versions —
    * SnapshotSpec pins that structural half; q155 proves the semantic
    * half against the oracle. */
  private[graft] def dvOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#dv", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_dv_$sfx"
          Snapshot.commit(ordersInitState(s, d), dir, 0, "order_key")
          Snapshot.deleteWhereDV(s, dir, 200L, 399L, col("status") === "F")
          Snapshot.deleteWhereDV(s, dir, 300L, 599L, col("status") === "O")
          // v4 = merge-on-read UPDATE (q156): q135's price bump + 'U'
          // stamp, but masked-and-appended instead of file-rewritten
          Snapshot.updateWhereDV(s, dir, 600L, 899L,
            Map("price" -> bump(col("price")).cast(DecimalType(21, 3)),
                "verdict" -> lit("U")),
            col("status") === "O")
          dir
        })
    }

  /** The COLUMN-MAPPING table (q157), built once per (session, dir):
    * v1 = orders load, v2 = RENAME COLUMN price→amount (metadata-only —
    * files keep the physical name forever), v3 = DROP COLUMN verdict
    * (physical name hidden and retired), v4 = a fresh batch appended
    * THROUGH the mapped schema: the writer presents logical names
    * (`amount`, no `verdict`) and the commit translates back, so the
    * new file shares the old files' physical vocabulary (spec-pinned in
    * SnapshotSpec). */
  private[graft] def mapOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#map", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_map_$sfx"
          Snapshot.commit(ordersInitState(s, d), dir, 0, "order_key")
          Snapshot.renameColumn(s, dir, "price", "amount")
          Snapshot.dropColumn(s, dir, "verdict")
          val batch = T.orders(s, d).filter(col("o_orderkey") % 20 === 7)
            .select(
              (col("o_orderkey") + 2000000000L).as("order_key"),
              col("o_custkey").as("cust_key"),
              lit("N").as("status"),
              F.dec2(col("o_totalprice")).cast(DecimalType(21, 3))
                .as("amount"))
          Snapshot.mergeCow(s, dir, batch, "order_key",
            (b, c) => b.unionByName(c))
          dir
        })
    }

  /** The HIVE-ADOPTED table (q158), built once per (session, dir): a
    * band-partitioned parquet lake written the classic hive way
    * (`band=N/part-*`), adopted by [[Snapshot.convertParquetHive]] —
    * per-file stats parsed from the paths, ZERO bytes read or moved —
    * then a merge-on-read DELETE masks band 3's 'F' orders on the
    * adopted shell (manifest-only; the DV path-keying that makes this
    * sound under hive name reuse is spec-pinned). */
  private[graft] def hiveOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#hive", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val wh = s.conf.get("spark.sql.warehouse.dir")
          val lake = s"$wh/graft_hive_lake_$sfx"
          val dir = s"$wh/graft_snap_hive_$sfx"
          T.orders(s, d).select(
              col("o_orderkey").as("order_key"),
              col("o_orderstatus").as("status"),
              F.dec2(col("o_totalprice")).cast(DecimalType(21, 3))
                .as("price"),
              (col("o_orderkey") % 8).cast("int").as("band"))
            .write.mode("overwrite").partitionBy("band").parquet(lake)
          Snapshot.convertParquetHive(s, dir, lake, "band")
          Snapshot.deleteWhereDV(s, dir, 3L, 3L, col("status") === "F")
          dir
        })
    }

  /** The GENERATED-COLUMN table (q159), built once per (session, dir):
    * v1 = orders load, v2 = `band GENERATED ALWAYS AS (order_key % 8)`
    * declared metadata-only, v3 = a batch appended WITHOUT the column —
    * computed and materialized inside the commit. Reads are
    * retroactive: v1's files predate the rule and compute it per row. */
  private[graft] def genOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#gen", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_gen_$sfx"
          Snapshot.commit(ordersInitState(s, d), dir, 0, "order_key")
          Snapshot.addGeneratedColumn(s, dir, "band", "BIGINT",
            "order_key % 8")
          val batch = T.orders(s, d).filter(col("o_orderkey") % 20 === 9)
            .select(
              (col("o_orderkey") + 3000000000L).as("order_key"),
              col("o_custkey").as("cust_key"),
              lit("N").as("status"),
              F.dec2(col("o_totalprice")).cast(DecimalType(21, 3))
                .as("price"),
              lit("K").as("verdict"))
          Snapshot.appendWithRetry(batch, dir, nFiles = 1)
          dir
        })
    }

  /** The EMPTY-VERSION table (q160), built once per (session, dir):
    * v1 = a deterministic orders slice, v2 = a DELETE over the whole key
    * domain — a LEGAL zero-file version served straight from the
    * manifest's stored schema (round 15's schema-in-manifest; before it
    * this threw on the empty-snapshot guard), v3 = a fresh batch
    * recommitted on top. The lifecycle every short-lived or
    * retention-drained table walks: drain, stay readable, revive. */
  private[graft] def emptyOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#empty", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_empty_$sfx"
          Snapshot.commit(ordersInitState(s, d)
              .filter(col("order_key") % 16 === 1),
            dir, 0, "order_key", nFiles = 4)
          Snapshot.deleteWhere(s, dir, Long.MinValue, Long.MaxValue)
          Snapshot.commit(ordersInitState(s, d)
              .filter(col("order_key") % 16 === 2),
            dir, 2, "order_key", nFiles = 4)
          dir
        })
    }

  /** The PARTITION-EVOLUTION table (q161), built once per (session,
    * dir): a TWO-LEVEL hive tree (`band=N/grp=M/part-*`) adopted on
    * `band` ([[Snapshot.convertParquetHive]]), then re-clustered on
    * `grp` by MANIFEST ARITHMETIC alone
    * ([[Snapshot.repartitionAdopted]] — every file's stats re-derive
    * from its grp= path segment; zero bytes read or moved), so a
    * grp-range read prunes to exactly grp's directories across every
    * band. The estate-adoption story one step further: re-cluster an
    * adopted lake on a different partition axis for free. */
  private[graft] def evolvedHive(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#hive2", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val wh = s.conf.get("spark.sql.warehouse.dir")
          val lake = s"$wh/graft_hive2_lake_$sfx"
          val dir = s"$wh/graft_snap_hive2_$sfx"
          T.orders(s, d).select(
              col("o_orderkey").as("order_key"),
              col("o_orderstatus").as("status"),
              F.dec2(col("o_totalprice")).cast(DecimalType(21, 3))
                .as("price"),
              (col("o_orderkey") % 8).cast("int").as("band"),
              (col("o_custkey") % 5).cast("int").as("grp"))
            // one file per (band, grp) leaf — without this, every one of
            // the session's tasks writes into every combo and the 40-dir
            // tree sprays ~task-count × 40 tiny files
            .repartition(col("band"), col("grp"))
            .write.mode("overwrite").partitionBy("band", "grp")
            .parquet(lake)
          Snapshot.convertParquetHive(s, dir, lake, "band")
          Snapshot.repartitionAdopted(s, dir, "grp")
          dir
        })
    }

  /** The VACUUM-REPORT fixture (q162), built once per (session, dir):
    * v1 = a slice committed as 4 files, v2 = a full-rewrite OPTIMIZE
    * (one fresh data dir), then `expireVersions(keep = 1)` with an
    * infinite grace drops v1's manifest WITHOUT reclaiming — leaving
    * exactly one orphaned data dir. [[Snapshot.vacuumReport]]'s dry run
    * is captured to parquet (2 dirs: 1 live, 1 reclaimable with v1's 4
    * files), then the REAL vacuum reclaims the orphan — the query
    * proves the report's arithmetic AND that the surviving version
    * still reads intact after reclaim. Returns "tableDir;reportPath". */
  private[graft] def vacuumedOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#vac", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val wh = s.conf.get("spark.sql.warehouse.dir")
          val dir = s"$wh/graft_snap_vac_$sfx"
          val rep = s"$wh/graft_vacrep_$sfx"
          Snapshot.commit(ordersInitState(s, d)
              .filter(col("order_key") % 16 === 3),
            dir, 0, "order_key", nFiles = 4)
          Snapshot.compactVersion(s, dir, 128L << 20)
          Snapshot.expireVersions(s, dir, keep = 1,
            vacuumGraceMs = Long.MaxValue)
          Snapshot.vacuumReport(s, dir, 0L)
            .write.mode("overwrite").parquet(rep)
          Snapshot.vacuum(s, dir, 0L)
          s"$dir;$rep"
        })
    }

  /** The DATE-STATS table (q163), built once per (session, dir): orders
    * accreted as one carried commit PER ORDER YEAR (1995–2001 — the
    * fixture's actual o_orderdate span, clustered
    * on the epoch-day key — the time-ordered ingest shape), each file
    * therefore covering one year, then [[Snapshot.optimizeStats]] stamps
    * per-file (min,max) of the DateType `o_date` column as epoch-days.
    * A date-range predicate through the front door prunes to exactly
    * its years' files from manifest arithmetic. A year empty at tiny
    * SFs commits a legal zero-file version and the carry chain holds. */
  private[graft] def dateOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#date", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_date_$sfx"
          val base = T.orders(s, d).select(
            col("o_orderkey").as("order_key"),
            col("o_orderstatus").as("status"),
            F.dec2(col("o_totalprice")).cast(DecimalType(21, 3))
              .as("price"),
            // the fixture's o_orderdate is TimestampNTZ — cast to a true
            // DATE column, the dtype this feature serves
            col("o_orderdate").cast(DateType).as("o_date"),
            datediff(col("o_orderdate"), lit("1970-01-01")).as("dday"))
          (1995 to 2001).foreach { y =>
            val cur = Snapshot.currentVersion(s, dir)
            val carried =
              if (cur == 0) Nil else Snapshot.manifest(s, dir, cur).files
            Snapshot.commit(base.filter(year(col("o_date")) === y),
              dir, cur, "dday", carried, nFiles = 1)
          }
          Snapshot.optimizeStats(s, dir, Seq("o_date"))
          dir
        })
    }

  /** The MONEY-STATS table (q164), built once per (session, dir):
    * orders accreted as one carried commit PER PRICE BAND (quartile-ish
    * cuts of o_totalprice), clustered on `order_key` — so the
    * clustering column does NOT serve a money predicate — with `price`
    * as DECIMAL(18,2) (NUMERIC is the reference's money type,
    * patient_claims_plus_postgres.py:84) and `dprice` as its DOUBLE
    * twin. NO optimizeStats call: the point is the WRITE-PATH auto
    * stamps ([[Snapshot.statKindOf]] kind 5 — saturated micro-units),
    * which make every file skippable on both money columns from birth.
    * A mid-band `BETWEEN` then plans exactly one file. */
  private[graft] def moneyOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#money", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_money_$sfx"
          val base = T.orders(s, d).select(
            col("o_orderkey").as("order_key"),
            col("o_orderstatus").as("status"),
            F.dec2(col("o_totalprice")).as("price"),
            col("o_totalprice").as("dprice"))
          val cuts = Seq(0.0, 125000.0, 250000.0, 375000.0, 1e9)
          // idempotent across sessions sharing a warehouse dir: a
          // fully-built table (4 band commits, row stamps present — a
          // pre-round-16 build lacks them and q166 needs them) is
          // reused as-is; a partial or legacy build fails LOUDLY on the
          // first fixed-expected-version commit (SnapshotConflict names
          // the mismatch) instead of silently duplicating bands on top
          val cur0 = Snapshot.currentVersion(s, dir)
          val complete = cur0 == cuts.size - 1 &&
            Snapshot.manifest(s, dir, cur0).files.forall(_.rows >= 0)
          // a legacy (pre-row-stamp) or partial build can never be
          // repaired by re-running the fixed-version commits — they
          // would conflict at v1 with a misleading "committed
          // concurrently"; name the actual remedy instead
          if (!complete && cur0 > 0)
            throw new IllegalStateException(
              s"moneyOrders table under $dir exists at v$cur0 without " +
                "complete row-count stamps (pre-round-16 build or " +
                "partial build) — delete the table dir and rebuild")
          if (!complete)
            cuts.sliding(2).zipWithIndex.foreach {
              case (Seq(lo, hi), i) =>
                val carried =
                  if (i == 0) Nil else Snapshot.manifest(s, dir, i).files
                Snapshot.commit(
                  base.filter(col("dprice") >= lo && col("dprice") < hi),
                  dir, i, "order_key", carried, nFiles = 1)
            }
          dir
        })
    }

  /** The DELTA-CHAIN table (q165), built once per (session, dir):
    * orders accreted as TWELVE carried commits (one per
    * `order_key % 12` bucket, clustered on `order_key`) so the manifest
    * log crosses a checkpoint boundary under the default
    * `checkpointEvery = 10` policy: v1 publishes FULL (no parent), v2–v9
    * and v11–v12 publish as `V`-headed DELTAS (metadata ∝ the one added
    * file, not the whole table), v10 publishes a full checkpoint that
    * re-roots the chain. Reads resolve deltas through the parent chain;
    * q165 pins both the resolved STATE (current and a mid-chain
    * time-travel, each against the raw-orders oracle) and the policy's
    * CHOICES (exactly 10 delta manifests, via header peeks). */
  /** The RANGE-CLUSTERED table (q167), built once per (session, dir):
    * orders accreted as one carried commit per `o_orderkey % 1000`
    * band — [0,250), [250,500), [500,750), [750,1000) — CLUSTERED ON
    * the band key (`key2`), one file each, so the four files carry
    * DISJOINT [min,max] stamps on the clustering column at any scale
    * factor. The shape metadata-only RANGE counts serve: a mid-range
    * predicate covers interior files wholly (answered from row
    * stamps) and straddles boundary files (scanned). Same idempotence
    * discipline as [[moneyOrders]]. */
  /** The SIP dim, built once per (session, dir): nation-derived keys
    * `dk = n_nationkey * 13` (0..312 — exactly the low two of
    * [[rangeOrders]]' four bands) committed as a single-file graft
    * table clustered on dk, so its manifest stamps ARE the key
    * envelope [[graft.plans.SipJoinRule]] injects (q170). */
  private[graft] def sipDim(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#sipdim", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_sipdim_$sfx"
          if (Snapshot.currentVersion(s, dir) != 1)
            Snapshot.commit(T.nation(s, d).select(
                (col("n_nationkey") * 13).cast("long").as("dk"),
                col("n_name").as("dname")),
              dir, 0, "dk", nFiles = 1)
          dir
        })
    }

  /** The q185 fixture: [[sipDim]]'s nation keys re-laid as four
    * BAND-committed files (one per `floor(n_nationkey / 7)` group),
    * each single-valued on a `tag` string whose strStats separate the
    * files — the candidacy-narrowing shape. Idempotent per
    * (session, sf); partial builds fail loudly. */
  private[graft] def sipBandDim(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#sipbanddim", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_sipbdim_$sfx"
          val cur0 = Snapshot.currentVersion(s, dir)
          if (cur0 != 4) {
            if (cur0 > 0)
              throw new IllegalStateException(
                s"sipBandDim table under $dir exists at v$cur0 " +
                  "(partial build) — delete the table dir and rebuild")
            val base = T.nation(s, d).select(
              (col("n_nationkey") * 13).cast("long").as("dk"),
              concat(lit("b"), floor(col("n_nationkey") / 7)
                .cast("int").cast("string")).as("tag"))
            (0 until 4).foreach { b =>
              val carried =
                if (b == 0) Nil else Snapshot.manifest(s, dir, b).files
              Snapshot.commit(base.filter(col("tag") === s"b$b"),
                dir, b, "dk", carried, nFiles = 1)
            }
          }
          dir
        })
    }

  /** The q179 fixture: statusOrders' three PURE bands (the mixed tail
    * left out — variance moments are full-metadata-only, and a tail
    * would push the grouped phase to the scan), scode-clustered, one
    * file per band. Idempotent per (session, sf); partial builds fail
    * loudly. */
  private[graft] def momentOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#moment", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_moment_$sfx"
          val cur0 = Snapshot.currentVersion(s, dir)
          val complete = cur0 == 3 && {
            val mm = Snapshot.manifest(s, dir, 3)
            mm.files.forall(f => mm.colStats.contains(
              (f.path, Snapshot.SqPfx + "order_key")))
          }
          if (!complete && cur0 > 0)
            throw new IllegalStateException(
              s"momentOrders table under $dir exists at v$cur0 without " +
                "complete square-sum stamps (partial or pre-round-19 " +
                "build) — delete the table dir and rebuild")
          if (!complete) {
            val base = T.orders(s, d).select(
              ascii(col("o_orderstatus")).as("scode"),
              col("o_orderkey").as("order_key"),
              (ascii(col("o_orderstatus")) - 5).as("rcode"),
              (col("o_orderkey") % 97 === 0).as("tail"))
            val slices = Seq(
              base.filter(col("scode") === 70 && !col("tail")),
              base.filter(col("scode") === 79 && !col("tail")),
              base.filter(col("scode") === 80))
            slices.zipWithIndex.foreach { case (df, i) =>
              val carried =
                if (i == 0) Nil else Snapshot.manifest(s, dir, i).files
              Snapshot.commit(df.drop("tail"), dir, i, "scode", carried,
                nFiles = 1)
            }
          }
          dir
        })
    }

  /** The q183 fixture: [[momentOrders]]' three scode bands rebuilt in
    * a twin dir, then ONE partial deletion vector inside band 70
    * (`order_key % 5 == 0` — a predicate no stamp can re-derive), so
    * the moment rewrites must take the HYBRID arm: band 70 scans
    * restricted under its mask, bands 79/80 serve from stamps.
    * Idempotent per (session, sf); partial builds fail loudly. */
  private[graft] def momentOrdersDv(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#momentdv", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_momentdv_$sfx"
          val cur0 = Snapshot.currentVersion(s, dir)
          val complete = cur0 == 4 &&
            Snapshot.manifest(s, dir, 4).dvs.nonEmpty
          if (!complete && cur0 > 0)
            throw new IllegalStateException(
              s"momentOrdersDv table under $dir exists at v$cur0 " +
                "without the planted DV (partial build) — delete the " +
                "table dir and rebuild")
          if (!complete) {
            val base = T.orders(s, d).select(
              ascii(col("o_orderstatus")).as("scode"),
              col("o_orderkey").as("order_key"),
              (ascii(col("o_orderstatus")) - 5).as("rcode"),
              F.dec2(col("o_totalprice")).as("p"),
              (col("o_orderkey") % 97 === 0).as("tail"))
            val slices = Seq(
              base.filter(col("scode") === 70 && !col("tail")),
              base.filter(col("scode") === 79 && !col("tail")),
              base.filter(col("scode") === 80))
            slices.zipWithIndex.foreach { case (df, i) =>
              val carried =
                if (i == 0) Nil else Snapshot.manifest(s, dir, i).files
              Snapshot.commit(df.drop("tail"), dir, i, "scode", carried,
                nFiles = 1)
            }
            Snapshot.deleteWhereDV(s, dir, 70L, 70L,
              residual = col("order_key") % 5 === 0)
          }
          dir
        })
    }

  /** The q178 fixture: all orders as 4 order_key-clustered files, then
    * ONE [[Snapshot.optimizeHll]] commit sketching the high-cardinality
    * key and the 3-value rcode (v2). Idempotent per (session, sf);
    * a partial build fails loudly like [[statusOrders]]. */
  private[graft] def hllOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#hll", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_hll_$sfx"
          val cur0 = Snapshot.currentVersion(s, dir)
          val complete = cur0 == 2 && {
            val mm = Snapshot.manifest(s, dir, 2)
            mm.files.forall(f => mm.strStats.contains(
              (f.path, Snapshot.HllPfx + "order_key")))
          }
          if (!complete && cur0 > 0)
            throw new IllegalStateException(
              s"hllOrders table under $dir exists at v$cur0 without " +
                "complete HLL sidecars (partial build) — delete the " +
                "table dir and rebuild")
          if (!complete) {
            val base = T.orders(s, d).select(
              col("o_orderkey").as("order_key"),
              (ascii(col("o_orderstatus")) - 5).as("rcode"))
            Snapshot.commit(base, dir, 0, "order_key", nFiles = 4)
            Snapshot.optimizeHll(s, dir, Seq("order_key", "rcode"))
          }
          dir
        })
    }

  /** The q181 fixture: orders banded by `order_key % 4` into four
    * BAND-clustered single-valued files (one commit per band, so each
    * file's clustering [min,max] collapses to its band — the
    * [[Snapshot.metaGroupDistinctMeta]] grouping verdict), then ONE
    * [[Snapshot.optimizeHll]] commit sketching the key (v5).
    * Idempotent per (session, sf); a partial build fails loudly like
    * [[hllOrders]]. */
  private[graft] def hllBandOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#hllband", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_hllband_$sfx"
          val cur0 = Snapshot.currentVersion(s, dir)
          val complete = cur0 == 5 && {
            val mm = Snapshot.manifest(s, dir, 5)
            mm.files.forall(f => mm.strStats.contains(
              (f.path, Snapshot.HllPfx + "order_key")))
          }
          if (!complete && cur0 > 0)
            throw new IllegalStateException(
              s"hllBandOrders table under $dir exists at v$cur0 " +
                "without complete HLL sidecars (partial build) — " +
                "delete the table dir and rebuild")
          if (!complete) {
            val base = T.orders(s, d).select(
              (col("o_orderkey") % 4).as("band"),
              col("o_orderkey").as("order_key"))
            (0 until 4).foreach { b =>
              val carried =
                if (b == 0) Nil else Snapshot.manifest(s, dir, b).files
              Snapshot.commit(base.filter(col("band") === b.toLong),
                dir, b, "band", carried, nFiles = 1)
            }
            Snapshot.optimizeHll(s, dir, Seq("order_key"))
          }
          dir
        })
    }

  private[graft] def rangeOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#range", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_range_$sfx"
          val base = T.orders(s, d).select(
            (col("o_orderkey") % 1000).as("key2"),
            col("o_orderstatus").as("status"),
            F.dec2(col("o_totalprice")).as("price"))
          val cuts = Seq(0L, 250L, 500L, 750L, 1000L)
          val cur0 = Snapshot.currentVersion(s, dir)
          val complete = cur0 == cuts.size - 1 &&
            Snapshot.manifest(s, dir, cur0).files
              .forall(f => f.rows >= 0 && f.kNulls >= 0)
          if (!complete && cur0 > 0)
            throw new IllegalStateException(
              s"rangeOrders table under $dir exists at v$cur0 without " +
                "complete row/null-count stamps (pre-round-17 or " +
                "partial build) — delete the table dir and rebuild")
          if (!complete)
            cuts.sliding(2).zipWithIndex.foreach {
              case (Seq(lo, hi), i) =>
                val carried =
                  if (i == 0) Nil else Snapshot.manifest(s, dir, i).files
                Snapshot.commit(
                  base.filter(col("key2") >= lo && col("key2") < hi),
                  dir, i, "key2", carried, nFiles = 1)
            }
          dir
        })
    }

  /** The q186 fixture: orders banded into four key2-range files like
    * [[rangeOrders]], carrying the raw order key as an integral
    * measure `v` — the straddled-window moment shape (a range window
    * cutting INTO band files). Idempotent per (session, sf); partial
    * builds fail loudly. */
  private[graft] def rangeMoments(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#rangemom", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_rangemom_$sfx"
          val cuts = Seq(0L, 250L, 500L, 750L, 1000L)
          val cur0 = Snapshot.currentVersion(s, dir)
          val complete = cur0 == cuts.size - 1 && {
            val mm = Snapshot.manifest(s, dir, cur0)
            mm.files.forall(f => mm.colStats.contains(
              (f.path, Snapshot.SqPfx + "v")))
          }
          if (!complete && cur0 > 0)
            throw new IllegalStateException(
              s"rangeMoments table under $dir exists at v$cur0 " +
                "without complete square-sum stamps (partial build) — " +
                "delete the table dir and rebuild")
          if (!complete) {
            val base = T.orders(s, d).select(
              (col("o_orderkey") % 1000).as("key2"),
              col("o_orderkey").as("v"))
            cuts.sliding(2).zipWithIndex.foreach {
              case (Seq(lo, hi), i) =>
                val carried =
                  if (i == 0) Nil else Snapshot.manifest(s, dir, i).files
                Snapshot.commit(
                  base.filter(col("key2") >= lo && col("key2") < hi),
                  dir, i, "key2", carried, nFiles = 1)
            }
          }
          dir
        })
    }

  /** The PARTITION-VALUE-clustered table (q171): orders keyed by the
    * ascii code of o_orderstatus — three SINGLE-VALUED band files
    * (each stamps min == max == its code, the shape
    * [[Snapshot.metaGroupSplit]] answers from arithmetic) plus one
    * deliberately MIXED tail file (the `o_orderkey % 97 == 0` slice of
    * the two common codes — stamps a real [min,max] range, so the
    * grouped rewrite degrades exactly it into the boundary scan).
    * Idempotence discipline mirrors [[rangeOrders]]. */
  private[graft] def statusOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#status", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_status_$sfx"
          val base = T.orders(s, d).select(
            ascii(col("o_orderstatus")).as("scode"),
            col("o_orderkey").as("order_key"),
            F.dec2(col("o_totalprice")).as("price"),
            // correlated NON-clustering int column: single-valued in
            // every band file, mixed in the tail — the q173 shape
            (ascii(col("o_orderstatus")) - 5).as("rcode"),
            (col("o_orderkey") % 97 === 0).as("tail"))
          val tailOf = Seq(70, 79) // 'F', 'O' — the two common codes
          val cur0 = Snapshot.currentVersion(s, dir)
          val complete = cur0 == 4 && {
            val mm = Snapshot.manifest(s, dir, cur0)
            mm.files.forall(f => f.rows >= 0 && f.kNulls >= 0 &&
              // round 18: q175 needs the per-file SUM stamps too — a
              // pre-r18 build is stale
              mm.colStats.contains((f.path, Snapshot.SumPfx + "order_key")))
          }
          if (!complete && cur0 > 0)
            throw new IllegalStateException(
              s"statusOrders table under $dir exists at v$cur0 without " +
                "complete row/null-count/sum stamps (pre-round-18 or " +
                "partial build) — delete the table dir and rebuild")
          if (!complete) {
            val slices = Seq(
              base.filter(col("scode") === 70 && !col("tail")),
              base.filter(col("scode") === 79 && !col("tail")),
              base.filter(col("scode") === 80),
              base.filter(col("scode").isin(tailOf: _*) && col("tail")))
            slices.zipWithIndex.foreach { case (df, i) =>
              val carried =
                if (i == 0) Nil else Snapshot.manifest(s, dir, i).files
              Snapshot.commit(df.drop("tail"), dir, i, "scode", carried,
                nFiles = 1)
            }
          }
          dir
        })
    }

  private[graft] def chainOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#chain", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_chain_$sfx"
          val base = T.orders(s, d).select(
            col("o_orderkey").as("order_key"),
            col("o_orderstatus").as("status"),
            F.dec2(col("o_totalprice")).as("price"),
            (col("o_orderkey") % 12).as("bucket"))
          // moneyOrders' idempotence discipline: reuse a fully-built
          // 12-commit chain; a partial build fails loudly on the fixed
          // expected version instead of appending duplicate buckets
          if (Snapshot.currentVersion(s, dir) != 12)
            (0 until 12).foreach { b =>
              val carried =
                if (b == 0) Nil else Snapshot.manifest(s, dir, b).files
              Snapshot.commit(base.filter(col("bucket") === b),
                dir, b, "order_key", carried, nFiles = 1)
            }
          dir
        })
    }

  /** The RESTORE table, built once per (session, dir): the [[dmlOrders]]
    * history replayed into its own dir (v1 load → v2 delete → v3
    * update), then `Snapshot.restore(1)` publishes v4 = v1's file list
    * by reference — the one-metadata-publish rollback of both DML
    * commits, with v2/v3 still inspectable. */
  private[graft] def restoreOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#restore", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_restore_$sfx"
          buildDmlHistory(s, d, dir)
          Snapshot.restore(s, dir, 1)
          dir
        })
    }

  /** The CHECK-constrained table, built once per (session, dir): v1 =
    * orders load, v2 = `ADD CONSTRAINT price_nonneg CHECK (price >= 0)`
    * (validates the whole table once, metadata-only commit), v3 = q42's
    * CDC batch merged WITH enforcement riding the commit's stats pass.
    * The reference's DQ gate (SURVEY A20) moved into the table: from
    * here no writer can land a negative price. */
  private[graft] def checkedOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#checked", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_checked_$sfx"
          Snapshot.commit(ordersInitState(s, d), dir, 0, "order_key")
          Snapshot.addConstraint(s, dir, "price_nonneg", "price >= 0")
          Snapshot.mergeCow(s, dir, ordersChanges(s, d), "k",
            applyOrdersChanges)
          dir
        })
    }

  /** The shallow-clone pair, built once per (session, dir): source = v1
    * orders load; clone = `Snapshot.cloneShallow` (one manifest write,
    * zero data copy) with q42's CDC batch then merged INTO THE CLONE —
    * the two tables diverge copy-on-write while the source is never
    * written. Returns (srcDir, cloneDir). */
  private[graft] def clonedOrders(s: SparkSession, d: String)
      : (String, String) =
    synchronized {
      val pair = snapCache
        .getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#clone", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val wh = s.conf.get("spark.sql.warehouse.dir")
          val src = s"$wh/graft_snap_csrc_$sfx"
          val dst = s"$wh/graft_snap_cdst_$sfx"
          Snapshot.commit(ordersInitState(s, d), src, 0, "order_key")
          Snapshot.cloneShallow(s, src, dst)
          Snapshot.mergeCow(s, dst, ordersChanges(s, d), "k",
            applyOrdersChanges)
          s"$src;$dst"
        })
      val Array(a, b) = pair.split(';')
      (a, b)
    }

  /** The SCHEMA-EVOLUTION table, built once per (session, dir): v1 =
    * orders state (narrow schema), v2 = `ALTER TABLE ADD COLUMN channel
    * STRING` as a METADATA-ONLY commit ([[Snapshot.addColumn]] — zero
    * data files touched at any table size), v3 = a narrow CDC batch
    * (keys [300,499], channel 'web'/'app' by key parity) merged
    * COPY-ON-WRITE carrying the new column. The final state therefore
    * mixes PRE-evolution files (channel physically absent, read as a
    * typed NULL) with post-evolution files holding written values —
    * the side-by-side read the q140 oracle certifies. Old versions keep
    * their narrow schema (SnapshotSpec pins it). */
  private[graft] def evoOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#evo", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_evo_$sfx"
          Snapshot.commit(ordersInitState(s, d), dir, 0, "order_key")
          Snapshot.addColumn(s, dir, "channel", "STRING")
          val batch = T.orders(s, d)
            .filter(col("o_orderkey").between(300, 499))
            .select(col("o_orderkey").as("bk"),
              when(col("o_orderkey") % 2 === 1, "web").otherwise("app")
                .as("b_channel"))
          Snapshot.mergeCow(s, dir, batch, "bk", (base, ch) =>
            base.join(ch, base("order_key") === ch("bk"), "left")
              .select(col("order_key"), col("cust_key"), col("status"),
                col("price"), col("verdict"),
                coalesce(col("b_channel"), col("channel")).as("channel")))
          dir
        })
    }

  /** The WRITER-front-door table, built once per (session, dir) through
    * `df.write.format("graft")` alone: v1 = the initial load via
    * mode=errorifexists (statsCol declared as an option — the NEW-table
    * path), v2 = the CDC batch's INSERT rows via mode=append (the new
    * version CARRIES v1's files by reference; only the appended rows
    * write). Exercises [[graft.sources.GraftSourceProvider]]'s
    * CreatableRelationProvider half end to end. */
  private[graft] def writeOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#srcw", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_srcw_$sfx"
          ordersInitState(s, d).write.format("graft")
            .option("statsCol", "order_key")
            .mode(SaveMode.ErrorIfExists).save(dir)
          ordersChanges(s, d).filter(col("op") === "I")
            .select(col("k").as("order_key"), col("c_cust").as("cust_key"),
              col("c_status").as("status"), col("c_price").as("price"),
              lit("I").as("verdict"))
            .write.format("graft").mode(SaveMode.Append).save(dir)
          dir
        })
    }

  /** The SQL-INSERT table, built once per (session, dir): v1 = the
    * initial load via the writer front door, v2 = `INSERT INTO name
    * SELECT … FROM name` — the query reads the CURRENT version while
    * the command appends the transformed copy as a carried-files commit
    * (immutable manifests make the self-read safe by construction).
    * Exercises [[graft.plans.SnapshotTimeTravelRule]]'s INSERT rewrite
    * + [[graft.sources.GraftRelation]]'s `InsertableRelation` half. */
  private[graft] def sqlInsertOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#sqlins", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_sqlins_$sfx"
          ordersInitState(s, d).write.format("graft")
            .option("statsCol", "order_key")
            .mode(SaveMode.ErrorIfExists).save(dir)
          val name = s"snap_sqlins_$sfx"
          Snapshot.registerSqlTable(s, name, dir)
          s.sql(s"""INSERT INTO $name
            SELECT order_key + 2000000000L, cust_key, 'S', price, 'I'
            FROM $name""")
          dir
        })
    }

  /** The SQL-DML table, built once per (session, dir): v1 = the initial
    * load via the writer front door, v2 = SQL `DELETE FROM … WHERE` (key
    * range ∧ status residual — bounds extracted from the WHERE clause
    * narrow the rewrite to stats-overlapping files), v3 = SQL
    * `UPDATE … SET … WHERE` (exact-decimal price bump + verdict lineage).
    * Exercises [[graft.plans.GraftDeleteCommand]] /
    * [[graft.plans.GraftUpdateCommand]] end to end through the analyzer
    * rewrite. */
  private[graft] def sqlDmlOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#sqldml", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_sqldml_$sfx"
          ordersInitState(s, d).write.format("graft")
            .option("statsCol", "order_key")
            .mode(SaveMode.ErrorIfExists).save(dir)
          val name = s"snap_sqldml_$sfx"
          Snapshot.registerSqlTable(s, name, dir)
          s.sql(s"""DELETE FROM $name
            WHERE order_key BETWEEN 200 AND 399 AND status = 'F'""")
          s.sql(s"""UPDATE $name
            SET price = CAST(price * 1.5 AS DECIMAL(21,3)), verdict = 'U'
            WHERE order_key BETWEEN 600 AND 799 AND status = 'O'""")
          dir
        })
    }

  /** The SQL-MERGE table, built once per (session, dir): v1 = the
    * initial load via the writer front door, v2 = q42's CDC batch landed
    * through SQL `MERGE INTO` — update/delete/insert clauses spelling
    * exactly [[applyOrdersChanges]]'s verdict semantics, so the final
    * state hash-matches the q42/q124 oracle VERBATIM (the fourth
    * same-oracle twin: one-shot plan, API-level merge, foreachBatch
    * sink, and now the SQL verb). */
  private[graft] def sqlMergeOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#sqlmrg", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_sqlmrg_$sfx"
          ordersInitState(s, d).write.format("graft")
            .option("statsCol", "order_key")
            .mode(SaveMode.ErrorIfExists).save(dir)
          val name = s"snap_sqlmrg_$sfx"
          Snapshot.registerSqlTable(s, name, dir)
          ordersChanges(s, d).createOrReplaceTempView(s"${name}_ch")
          s.sql(s"""MERGE INTO $name t USING ${name}_ch s
            ON t.order_key = s.k
            WHEN MATCHED AND s.op = 'U' THEN
              UPDATE SET price = s.c_price, verdict = 'U'
            WHEN MATCHED AND s.op = 'D' THEN DELETE
            WHEN NOT MATCHED THEN
              INSERT (order_key, cust_key, status, price, verdict)
              VALUES (s.k, s.c_cust, s.c_status, s.c_price, 'I')""")
          dir
        })
    }

  /** The full-SQL lifecycle table, built once per (session, dir): after
    * the writer front-door create, EVERY verb is a SQL statement through
    * the injected parser ([[graft.plans.GraftSqlParser]]) — v2
    * `ALTER TABLE … ADD CONSTRAINT … CHECK`, v3 `DELETE FROM` (the
    * damage), v4 `OPTIMIZE` (maintenance compact), v5
    * `RESTORE TABLE … TO VERSION AS OF 2` (metadata-only rollback of
    * the damage, constraint riding along), v6 `ALTER TABLE … ADD
    * COLUMN` (declared evolution), plus `VACUUM` under the default
    * grace age (reclaims nothing on a live table — every data dir is
    * referenced by a retained manifest). Returns (dir, registered
    * name). */
  private[graft] def sqlLifecycleOrders(s: SparkSession, d: String)
      : (String, String) =
    synchronized {
      val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
      val name = s"snap_sqllife_$sfx"
      val dir = snapCache
        .getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#sqllife", {
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_sqllife_$sfx"
          ordersInitState(s, d).write.format("graft")
            .option("statsCol", "order_key")
            .mode(SaveMode.ErrorIfExists).save(dir)
          Snapshot.registerSqlTable(s, name, dir)
          s.sql(s"""ALTER TABLE $name
            ADD CONSTRAINT price_nonneg CHECK (price >= 0)""")
          s.sql(s"""DELETE FROM $name
            WHERE order_key BETWEEN 200 AND 399 AND status = 'F'""")
          s.sql(s"OPTIMIZE $name")
          s.sql(s"RESTORE TABLE $name TO VERSION AS OF 2")
          s.sql(s"ALTER TABLE $name ADD COLUMN chan STRING")
          s.sql(s"VACUUM $name")
          dir
        })
      (dir, name)
    }

  /** The rebase-append table, built once per (session, dir): v1 =
    * orders load; the 'A' batch is STAGED (files on disk, no manifest —
    * [[Snapshot.stageAppend]]), an interleaving writer lands the 'B'
    * batch as v2 through the ordinary CAS commit, and the staged append
    * then publishes v3 by MANIFEST REBASE alone
    * ([[Snapshot.publishAppend]] — the loser re-points its manifest at
    * the new head; zero data rewrite). */
  private[graft] def rebaseOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#rebase", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_rebase_$sfx"
          Snapshot.commit(ordersInitState(s, d), dir, 0, "order_key")
          def mk(res: Int, off: Long, st: String): DataFrame =
            T.orders(s, d).filter(col("o_orderkey") % 10 === res).select(
              (col("o_orderkey") + off).as("order_key"),
              col("o_custkey").as("cust_key"), lit(st).as("status"),
              F.dec2(col("o_totalprice")).cast(DecimalType(21, 3))
                .as("price"),
              lit("R").as("verdict"))
          val staged = Snapshot.stageAppend(mk(3, 2000000000L, "A"), dir)
          val m1 = Snapshot.manifest(s, dir, 1)
          Snapshot.commit(mk(7, 3000000000L, "B"), dir, 1, "order_key",
            m1.files)
          Snapshot.publishAppend(s, dir, staged)
          dir
        })
    }

  /** The accretion-tail table, built once per (session, dir): v1 = the
    * orders load in 4 well-sized files, then 6 micro-batch appends
    * (key slices shifted past 4e9, status 'S') each landing ONE small
    * file — the steady-state shape of a streamed/micro-batched 100 TB
    * table. [[Snapshot.compactSmall]] then bin-packs ONLY the
    * sub-threshold tail (threshold = the smallest v1 file's size, so
    * classification is measured, not assumed): the 4 load files carry
    * by reference, the 6 small files merge into one — 8 versions,
    * 5 files, content untouched. */
  private[graft] def compactTailOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#cmptail", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_cmptail_$sfx"
          Snapshot.commit(ordersInitState(s, d), dir, 0, "order_key",
            nFiles = 4)
          (0 until 6).foreach { i =>
            val b = T.orders(s, d)
              .filter(col("o_orderkey") % 1000 === 500 + i).select(
                (col("o_orderkey") + 4000000000L).as("order_key"),
                col("o_custkey").as("cust_key"), lit("S").as("status"),
                F.dec2(col("o_totalprice")).cast(DecimalType(21, 3))
                  .as("price"),
                lit("K").as("verdict"))
            val cur = Snapshot.currentVersion(s, dir)
            val m = Snapshot.manifest(s, dir, cur)
            Snapshot.commit(b, dir, cur, "order_key", m.files, nFiles = 1)
          }
          val m7 = Snapshot.manifest(s, dir, 7)
          val initPaths = Snapshot.manifest(s, dir, 1).files.map(_.path).toSet
          val minInit = m7.files.filter(f => initPaths(f.path))
            .map(f => Snapshot.entryLen(s, dir, f.path)).min
          Snapshot.compactSmall(s, dir, smallBytes = minInit)
          dir
        })
    }

  /** The per-channel accreted table, built once per (session, dir): 3
    * commits, each ONE ingest channel's slice of orders (the
    * file-correlated string shape real per-source batching produces —
    * every file of a commit holds a single `chan` value), then
    * `Snapshot.optimizeStats(Seq("chan"))` stamps per-file string
    * (min,max) sidecars. A `chan = '…'` predicate through the front
    * door then prunes to ONE commit's files by manifest arithmetic
    * (SourceSpec pins the planned sets). */
  private[graft] def channelOrders(s: SparkSession, d: String): String =
    synchronized {
      snapCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(s"$d#chan", {
          val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
          val dir = s.conf.get("spark.sql.warehouse.dir") +
            s"/graft_snap_chan_$sfx"
          def slice(res: Int, chan: String): DataFrame =
            T.orders(s, d).filter(col("o_orderkey") % 3 === res).select(
              col("o_orderkey").as("order_key"),
              col("o_custkey").as("cust_key"),
              col("o_orderstatus").as("status"),
              F.dec2(col("o_totalprice")).cast(DecimalType(21, 3))
                .as("price"),
              lit(chan).as("chan"))
          Seq("ads" -> 0, "organic" -> 1, "partner" -> 2)
            .foreach { case (chan, res) =>
              val cur = Snapshot.currentVersion(s, dir)
              val carried =
                if (cur == 0) Nil else Snapshot.manifest(s, dir, cur).files
              Snapshot.commit(slice(res, chan), dir, cur, "order_key",
                carried, nFiles = 2)
            }
          Snapshot.optimizeStats(s, dir, Seq("chan"))
          dir
        })
    }

  /** q132's deterministic probe set: five keys present at every fixture
    * scale (orders keys are dense 0..N−1, N ≥ 1500 at sf0.001) plus two
    * far outside any key domain — the absent-key path a point index
    * must prune to zero files. */
  private[graft] val bloomProbeKeys: Seq[Long] =
    Seq(137L, 428L, 999L, 1204L, 1400L, 2000000L, 3000001L)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q132_bloom_point" -> ((s, d) => {
      // POINT LOOKUP on a non-clustering column via manifest Bloom
      // sidecars: the table is clustered on cust_key, so order_key
      // min/max stats overlap across all 16 files and prune nothing —
      // the per-file sketches select the handful of files that might
      // hold the probe keys at PLANNING time (absent keys reach zero
      // files; SnapshotSpec pins the file counts), and the residual IN
      // filter keeps the answer exact under false positives. Oracle =
      // the same IN over raw orders.
      Snapshot.readPoints(s, bloomOrders(s, d), "order_key", bloomProbeKeys)
        .select(col("order_key"), col("cust_key"), col("status"),
          F.od(col("price")).as("price"))
        .orderBy(col("order_key"))
    }),

    "q42_merge_upsert" -> ((s, d) =>
      // CDC MERGE INTO as a one-shot plan: the shared kernel over the
      // full base state — see [[applyOrdersChanges]] for the verdict
      // semantics, q124 for the same kernel landing in a transactional
      // versioned table.
      applyOrdersChanges(ordersInitState(s, d), ordersChanges(s, d))
        .select(col("order_key"), col("cust_key"), col("status"),
          F.od(col("price")).as("price"), col("verdict"))
        .orderBy(col("order_key"))),

    "q141_source_read" -> ((s, d) => {
      // The snapshot table through its REGISTERED data source — the
      // `spark.read.format("graft")` front door
      // ([[graft.sources.GraftSourceProvider]]): versionAsOf pins the
      // merged v2 state (q124's table), and the key-range predicate
      // Catalyst pushes into the relation becomes MANIFEST file pruning
      // on the clustering column before the parquet scan is even
      // planned (SourceSpec pins the planned file set; Spark
      // re-evaluates the filter above, so pruning can never change the
      // answer). Oracle = q42's merge replay restricted to the range —
      // the same-oracle twin of the direct [[Snapshot.read]] route.
      val dir = snapOrders(s, d)
      s.read.format("graft").option("versionAsOf", "2").load(dir)
        .filter(col("order_key").between(200L, 1199L))
        .select(col("order_key"), col("cust_key"), col("status"),
          F.od(col("price")).as("price"), col("verdict"))
        .orderBy(col("order_key"))
    }),

    "q143_source_write" -> ((s, d) => {
      // The WRITE front door end to end: the table is created and
      // appended exclusively through `df.write.format("graft")`
      // ([[writeOrders]] — mode=errorifexists creates v1, mode=append
      // lands the CDC inserts as v2 CARRYING v1's files by reference),
      // then read back through the same registered source. Both halves
      // of the SPI in one oracled path; the append's cost is the new
      // rows alone, which is what a transactional append must cost at
      // 100 TB. Oracle = initial state ∪ the insert rows, recomputed
      // from raw orders.
      s.read.format("graft").load(writeOrders(s, d))
        .groupBy(col("status"), col("verdict"))
        .agg(count(lit(1)).as("n"), F.od(sum(col("price"))).as("total"))
        .orderBy(col("status"), col("verdict"))
    }),

    "q144_sql_insert" -> ((s, d) => {
      // SQL INSERT end to end: `INSERT INTO name SELECT … FROM name`
      // through the analyzer rewrite ([[sqlInsertOrders]] — the command
      // runs GraftRelation.insert at execution, landing a carried-files
      // append; EXPLAIN stays side-effect free, SourceSpec pins it),
      // then the doubled state read back per (status, verdict). The
      // DML verb the reference drives through psql scripts
      // (patient_claims_plus_postgres.py's INSERT…SELECT stages), here
      // a transactional commit with history. Oracle = base ∪ the
      // transformed copy, recomputed from raw orders.
      val dir = sqlInsertOrders(s, d)
      Snapshot.read(s, dir)
        .groupBy(col("status"), col("verdict"))
        .agg(count(lit(1)).as("n"), F.od(sum(col("price"))).as("total"))
        .orderBy(col("status"), col("verdict"))
    }),

    "q145_sql_dml" -> ((s, d) => {
      // SQL DELETE + UPDATE end to end ([[sqlDmlOrders]] — both verbs
      // through the analyzer rewrite into execution-time commands over
      // the narrow COW verbs; WHERE-clause bounds keep each rewrite to
      // the stats-overlapping files, SourceSpec pins the 1-of-4 file
      // count and EXPLAIN purity). Completes SQL DML on registered
      // names: INSERT (q144), DELETE, UPDATE — the psql verbs of the
      // reference's stages, each now an atomic versioned commit. The
      // final state grouped per (status, verdict); oracle replays
      // delete-then-update over raw orders in exact decimal.
      Snapshot.read(s, sqlDmlOrders(s, d))
        .groupBy(col("status"), col("verdict"))
        .agg(count(lit(1)).as("n"), F.od(sum(col("price"))).as("total"))
        .orderBy(col("status"), col("verdict"))
    }),

    "q146_sql_merge" -> ((s, d) => {
      // SQL MERGE INTO end to end ([[sqlMergeOrders]]): q42's CDC batch
      // through the verb that subsumes the other three — conditioned
      // UPDATE/DELETE/INSERT clauses, one full-outer-join COW commit,
      // file selection keyed by the ON clause's statsCol equi-conjunct
      // (SourceSpec pins the carried-file subset and all three clause
      // classes). Hash-matches q42's oracle VERBATIM: the fourth
      // same-oracle twin — one-shot plan (q42), API merge (q124),
      // streaming sink (q126 via q102's), and the SQL verb.
      Snapshot.read(s, sqlMergeOrders(s, d))
        .select(col("order_key"), col("cust_key"), col("status"),
          F.od(col("price")).as("price"), col("verdict"))
        .orderBy(col("order_key"))
    }),

    "q148_sql_lifecycle" -> ((s, d) => {
      // The SQL-ONLY lakehouse lifecycle ([[sqlLifecycleOrders]] —
      // every verb after creation is a statement through the injected
      // parser, [[graft.plans.GraftSqlParser]]): ADD CONSTRAINT …
      // CHECK, DELETE (the damage), OPTIMIZE (maintenance compact),
      // RESTORE TABLE … TO VERSION AS OF (metadata-only rollback),
      // ALTER TABLE ADD COLUMN (declared evolution), VACUUM (default
      // grace — reclaims nothing on a live table). The result reads
      // the damaged v3 and the restored current state side by side,
      // with the committed version count from SQL DESCRIBE HISTORY
      // riding as a pinned constant: the oracle recomputes both phases
      // from raw orders (restore must be byte-exact; OPTIMIZE must not
      // change content) and n_versions must be exactly 6.
      val (dir, name) = sqlLifecycleOrders(s, d)
      val nv = s.sql(s"DESCRIBE HISTORY $name").count()
      def agg(v: Int, phase: String): DataFrame =
        Snapshot.read(s, dir, v)
          .groupBy(lit(phase).as("phase"), col("status"))
          .agg(count(lit(1)).as("n"), F.od(sum(col("price"))).as("total"))
      agg(3, "damaged").unionAll(agg(6, "final"))
        .withColumn("n_versions", lit(nv))
        .orderBy(col("phase"), col("status"))
    }),

    "q149_append_rebase" -> ((s, d) => {
      // Optimistic-concurrency APPEND REBASE ([[rebaseOrders]]): an
      // append staged against v1 loses the commit race to an
      // interleaved writer and lands v3 by re-pointing its manifest at
      // the new head — commit-retry, never write-retry
      // ([[Snapshot.publishAppend]]'s conflict arithmetic: a blind
      // append READS nothing, so every interleaved commit class
      // commutes except the metadata guards, which abort/re-validate —
      // ConcurrencySpec). The rollup sees the initial load AND both
      // racing batches exactly once each, with n_versions = 3 pinning
      // one-version-per-writer; the oracle recomputes all three
      // groups from raw orders.
      val dir = rebaseOrders(s, d)
      Snapshot.read(s, dir)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), F.od(sum(col("price"))).as("total"))
        .withColumn("n_versions",
          lit(Snapshot.currentVersion(s, dir).toLong))
        .orderBy(col("status"))
    }),

    "q150_optimize_incremental" -> ((s, d) => {
      // INCREMENTAL OPTIMIZE ([[compactTailOrders]] →
      // [[Snapshot.compactSmall]]): the accretion tail of 6 micro-batch
      // files bin-packs into one while the 4 well-sized load files
      // carry BY REFERENCE — cost ∝ the small bytes, never the table
      // (q131's compactVersion is the full-rewrite twin for bulk loads
      // and z-order re-clusters). The rollup pins content identity
      // across the maintenance commit, n_files = 5 pins the 4-carried
      // + 1-merged layout, and n_versions = 8 pins the accretion
      // history surviving intact; the oracle recomputes the groups
      // from raw orders.
      val dir = compactTailOrders(s, d)
      val cur = Snapshot.currentVersion(s, dir)
      Snapshot.read(s, dir)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), F.od(sum(col("price"))).as("total"))
        .withColumn("n_files",
          lit(Snapshot.manifest(s, dir, cur).files.size.toLong))
        .withColumn("n_versions", lit(cur.toLong))
        .orderBy(col("status"))
    }),

    "q151_stats_string" -> ((s, d) => {
      // STRING file stats ([[channelOrders]] →
      // [[Snapshot.optimizeStats]] routing `chan` to the base64
      // `strStats` sidecars): the per-channel accreted table serves a
      // `chan = 'organic'` predicate through the registered front door
      // with the scan PLANNED down to one commit's files by manifest
      // arithmetic under UTF-8 byte order — equality and range pruning
      // on a string column with no z-order rewrite, the shape
      // per-source batching makes ubiquitous at 100 TB (SourceSpec
      // pins the planned sets: 2-of-6 equality, range, absent-value →
      // 0, un-stamped version → all). `n_pruned` carries the engine's
      // own planned-file count; the oracle pins it at 2 and recomputes
      // the rollup from the organic slice of raw orders.
      val dir = channelOrders(s, d)
      val cur = Snapshot.currentVersion(s, dir)
      val m = Snapshot.manifest(s, dir, cur)
      val planned = graft.sources.SourcePruning.candidates(m,
        Seq(org.apache.spark.sql.sources.EqualTo("chan", "organic")))
      s.read.format("graft").load(dir)
        .filter(col("chan") === "organic")
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), F.od(sum(col("price"))).as("total"))
        .withColumn("n_pruned", lit(planned.size.toLong))
        .orderBy(col("status"))
    }),

    "q154_sql_detail" -> ((s, d) => {
      // DESCRIBE DETAIL through the injected parser: the current
      // version's shape — version / clustering column / file count /
      // constraint + evolved-column counts / note — read from manifest
      // arithmetic alone (bytes omitted: physical sizes vary per SF;
      // the spec covers them). On the q148 lifecycle table every field
      // is a deterministic constant: v6, 8 files (RESTORE re-pointed
      // at the create's 8-file layout), 1 constraint, 1 evolved
      // column, the schema:add note — all oracle-pinned.
      val (_, name) = sqlLifecycleOrders(s, d)
      s.sql(s"DESCRIBE DETAIL $name")
        .select(col("version"), col("stats_col"), col("n_files"),
          col("n_constraints"), col("n_added_cols"), col("note"))
    }),

    "q152_bloom_string" -> ((s, d) => {
      // POINT LOOKUP on an opaque STRING id via hashed Bloom sidecars
      // ([[strBloomOrders]]): `ref` is md5 of the key — the UUID-class
      // string real ingest keys on — uncorrelated with the cust_key
      // layout, so only the per-file xxhash64 sketches can narrow the
      // probe; the front-door IN translates to hashed point candidacy
      // at PLANNING time (SourceSpec pins present-probe narrowing and
      // the absent-key zero), the residual filter keeps the answer
      // exact under false positives. Oracle = the same keys through
      // DuckDB's md5 over raw orders — the string twin of q132.
      val dir = strBloomOrders(s, d)
      val refs = bloomProbeKeys.map { k =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(k.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      }
      s.read.format("graft").load(dir)
        .filter(col("ref").isin(refs: _*))
        .select(col("order_key"), col("cust_key"), col("status"),
          F.od(col("price")).as("price"), col("ref"))
        .orderBy(col("order_key"))
    }),

    "q153_convert_parquet" -> ((s, d) => {
      // CONVERT TO GRAFT ([[convertedOrders]] →
      // [[Snapshot.convertParquet]]): a pre-existing flat parquet lake
      // adopted as v1 by metadata alone — absolute refs, measured
      // per-file stats, zero bytes moved — then treated as a full
      // citizen: an append-rebase lands v2 carrying the 4 source refs
      // next to 1 fresh relative file (the shallow-clone divergence
      // machinery re-used; SnapshotSpec pins refs, pruning, vacuum
      // blindness to source files). The rollup sees lake + appended
      // batch; n_src_refs = 4 pins the adopted file count and
      // n_versions = 2 the commit history; oracle recomputes from raw
      // orders.
      val dir = convertedOrders(s, d)
      val cur = Snapshot.currentVersion(s, dir)
      val nAbs = Snapshot.manifest(s, dir, cur).files
        .count(f => f.path.contains(":") || f.path.startsWith("/"))
      Snapshot.read(s, dir)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), F.od(sum(col("price"))).as("total"))
        .withColumn("n_src_refs", lit(nAbs.toLong))
        .withColumn("n_versions", lit(cur.toLong))
        .orderBy(col("status"))
    }),

    "q124_merge_versioned" -> ((s, d) => {
      // q42's MERGE against a TRANSACTIONAL target: the change batch
      // lands in the snapshot-versioned table via an atomic manifest
      // commit (file-level copy-on-write, concurrent-loser aborts,
      // torn writes invisible — SnapshotSpec), and the query reads the
      // committed v2 snapshot. Hash-matches q42's oracle verbatim — the
      // q120/q113 proof pattern: same answer, operational storage.
      Snapshot.read(s, snapOrders(s, d))
        .select(col("order_key"), col("cust_key"), col("status"),
          F.od(col("price")).as("price"), col("verdict"))
        .orderBy(col("order_key"))
    }),

    "q125_time_travel" -> ((s, d) => {
      // TIME TRAVEL over the same table, through SQL: v1 (pre-merge) and
      // v2 (post-merge) read side by side with Spark's own
      // `VERSION AS OF` grammar — [[Snapshot.registerSqlTable]] binds
      // the name, [[graft.plans.SnapshotTimeTravelRule]] resolves each
      // travel clause to that manifest's file set (plain parquet scans;
      // pushdown/pruning unchanged). The audit query a warehouse with
      // history answers and a DROP+CTAS warehouse (the reference's)
      // cannot; the reference's all-SQL posture
      // (patient_claims_plus_postgres.py:161-189) kept, history gained.
      // Decimal sums are order-free; verdict counts pin the CDC batch's
      // effect per version. Oracle replays both versions in SQL.
      Snapshot.registerSqlTable(s, "snap_orders", snapOrders(s, d))
      s.sql("""
        SELECT version,
               count(1) AS n,
               CAST(sum(price) AS DOUBLE) AS total,
               sum(CASE WHEN verdict = 'U' THEN 1L ELSE 0L END) AS n_upd,
               sum(CASE WHEN verdict = 'I' THEN 1L ELSE 0L END) AS n_ins
        FROM (
          SELECT CAST(1 AS BIGINT) AS version, price, verdict
          FROM snap_orders VERSION AS OF 1
          UNION ALL
          SELECT CAST(2 AS BIGINT) AS version, price, verdict
          FROM snap_orders VERSION AS OF 2
        )
        GROUP BY version
        ORDER BY version""")
    }),

    "q127_zorder_box" -> ((s, d) => {
      // 2-D box query over the Z-ORDERED snapshot: customer range ×
      // order-date range served through [[Snapshot.readPrunedBox]] —
      // file pruning on BOTH axes via the manifest's z stats + the
      // box's driver-side z-range cover, exact predicate as residual.
      // Value-equal to filtering a full scan (SnapshotSpec pins that
      // AND the file-count win over the v1 single-column layout);
      // oracle = the same box on the raw table. 1996-01-01/12-31 are
      // days 1461/1826 since the 1992-01-01 epoch (the fixture's dates
      // run ~1995-2001).
      Snapshot.readPrunedBox(s, zOrders(s, d),
          Seq(("o_custkey", 100L, 1100L), ("dday", 1461L, 1826L)))
        .select(col("o_orderkey"), col("o_custkey"),
          col("dday").cast("long").as("dday"),
          F.od(col("price")).as("price"))
        .orderBy(col("o_orderkey"))
    }),

    "q130_zorder3_box" -> ((s, d) => {
      // 3-D box query over the THREE-column z-ordered snapshot: customer
      // range × order-date range × PRICE range (exact integer cents)
      // served through [[Snapshot.readPrunedBox]] — file pruning on ALL
      // THREE axes via the manifest's z stats + the octree cover, exact
      // predicate as residual. q127's query class with the third filter
      // a 2-D layout must leave as a residual over every matched file;
      // value-equal to filtering a full scan (SnapshotSpec pins the
      // per-axis pruning and losslessness on independent dims); oracle =
      // the same box on the raw table. Price band 50k-200k dollars in
      // cents; date box = 1996 (days 1461-1826 since the 1992-01-01
      // epoch, q127's constants).
      Snapshot.readPrunedBox(s, zOrders3(s, d), Seq(("o_custkey", 100L, 1100L),
          ("dday", 1461L, 1826L), ("price_c", 5000000L, 20000000L)))
        .select(col("o_orderkey"), col("o_custkey"),
          col("dday").cast("long").as("dday"), col("price_c"))
        .orderBy(col("o_orderkey"))
    }),

    "q131_optimize_compact" -> ((s, d) => {
      // OPTIMIZE COMPACT surfaced as a query: the accreted small-file
      // table ([[compactOrders]]) aggregated at BOTH the pre-compaction
      // version and the compacted current one, side by side — the pair
      // must agree exactly, because compaction is a layout rewrite, not
      // a data change, and the old version stays time-travelable. Oracle
      // = the same per-status aggregate over raw orders, once per phase.
      val dir = compactOrders(s, d)
      val v = Snapshot.currentVersion(s, dir)
      def agg(df: DataFrame, phase: String): DataFrame = df
        .groupBy(lit(phase).as("phase"), col("status"))
        .agg(count(lit(1)).as("n"), F.od(sum(col("price"))).as("total"))
      agg(Snapshot.read(s, dir, v - 1), "pre")
        .unionAll(agg(Snapshot.read(s, dir, v), "post"))
        .orderBy(col("phase"), col("status"))
    }),

    "q134_delete_cow" -> ((s, d) => {
      // COW DELETE as a committed version: v2 dropped the 'F' orders in
      // key range [200,399], rewriting only range-touched files
      // ([[Snapshot.deleteWhere]]; SnapshotSpec pins the carry counts).
      // The query proves BOTH sides of the transactional story: the v2
      // state reflects the delete exactly, and time travel still serves
      // the undeleted v1 — emitted per status for each phase. Oracle =
      // the same arithmetic over raw orders.
      val dir = dmlOrders(s, d)
      def agg(v: Int, phase: String): DataFrame =
        Snapshot.read(s, dir, v)
          .groupBy(lit(phase).as("phase"), col("status"))
          .agg(count(lit(1)).as("n"), F.od(sum(col("price"))).as("total"))
      agg(1, "pre").unionAll(agg(2, "post"))
        .orderBy(col("phase"), col("status"))
    }),

    "q155_delete_dv" -> ((s, d) => {
      // MERGE-ON-READ DELETE as committed versions: v2/v3 masked the
      // [200,399] 'F' and [300,599] 'O' orders via DELETION VECTORS —
      // positions in the manifest, zero data files written or rewritten
      // ([[Snapshot.deleteWhereDV]]; SnapshotSpec pins the identical
      // file sets and the vector merge). Semantically indistinguishable
      // from the COW delete: the v3 state reflects both deletes exactly
      // while v1 time-travels to the undeleted table — per status for
      // each phase, q134's shape. Oracle = the same arithmetic over raw
      // orders; the two predicates conjoin because DV deletes compose
      // (the second collects positions over the first's masked state).
      val dir = dvOrders(s, d)
      def agg(v: Int, phase: String): DataFrame =
        Snapshot.read(s, dir, v)
          .groupBy(lit(phase).as("phase"), col("status"))
          .agg(count(lit(1)).as("n"), F.od(sum(col("price"))).as("total"))
      agg(1, "pre").unionAll(agg(3, "post"))
        .orderBy(col("phase"), col("status"))
    }),

    "q159_generated_col" -> ((s, d) => {
      // GENERATED COLUMN as committed metadata ([[genOrders]]): the
      // band rollup reads one table where v1's files COMPUTE the
      // expression per row (they predate the declaration — zero
      // rewrite) and v3's appended file MATERIALIZED it inside the
      // commit (the writer never supplied it); a wrong supplied value
      // is a rejected batch (spec-pinned). Oracle recomputes the band
      // arithmetic for both populations from raw orders.
      Snapshot.read(s, genOrders(s, d))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"), F.od(sum(col("price"))).as("total"))
        .orderBy(col("band"))
    }),

    "q158_convert_hive" -> ((s, d) => {
      // HIVE-PARTITIONED lake adopted by path arithmetic alone
      // ([[hiveOrders]]): per-file stats ARE the band=N path values, so
      // this band-range read PLANS exactly bands 2..5's directories from
      // the manifest (no listing, no footer reads outside the range),
      // Spark's own basePath reconstruction materializes `band`, and the
      // merge-on-read DELETE riding the adopted shell (band 3's 'F'
      // orders, manifest-only) applies inside the same scan. Oracle
      // recomputes band arithmetic + the mask over raw orders.
      Snapshot.readPruned(s, hiveOrders(s, d), 2L, 5L)
        .groupBy(col("band").cast("long").as("band"))
        .agg(count(lit(1)).as("n"), F.od(sum(col("price"))).as("total"))
        .orderBy(col("band"))
    }),

    "q163_stats_date" -> ((s, d) => {
      // DATE file stats ([[dateOrders]] → [[Snapshot.optimizeStats]]
      // routing the DateType `o_date` to epoch-day colStats sidecars):
      // the per-year accreted table serves a 1997 date-range predicate
      // through the registered front door with the scan PLANNED down to
      // the one file whose stamp overlaps the year — a date range is
      // THE warehouse predicate, pruned with no rewrite from manifest
      // arithmetic alone. `n_pruned` carries the engine's own planned
      // count; the oracle pins it at 1 and recomputes the rollup from
      // the 1997 slice of raw orders.
      val dir = dateOrders(s, d)
      val cur = Snapshot.currentVersion(s, dir)
      val m = Snapshot.manifest(s, dir, cur)
      val lo = java.sql.Date.valueOf("1997-01-01")
      val hi = java.sql.Date.valueOf("1997-12-31")
      val planned = graft.sources.SourcePruning.candidates(m,
        Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("o_date", lo),
          org.apache.spark.sql.sources.LessThanOrEqual("o_date", hi)))
      s.read.format("graft").load(dir)
        .filter(col("o_date").between(lit(lo), lit(hi)))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), F.od(sum(col("price"))).as("total"))
        .withColumn("n_pruned", lit(planned.size.toLong))
        .orderBy(col("status"))
    }),

    "q164_stats_decimal" -> ((s, d) => {
      // DECIMAL file stats ([[moneyOrders]] → write-path kind-5 auto
      // stamps, saturated micro-units): a money `BETWEEN` through the
      // registered front door PLANS exactly the one band file whose
      // stamp overlaps [260000, 370000] — the reference's NUMERIC money
      // type pruned at file level from manifest arithmetic alone, no
      // optimizeStats pass and no layout rewrite. `n_pruned` carries
      // the engine's own planned count; the oracle pins it at 1 and
      // recomputes the rollup from the raw orders slice.
      val dir = moneyOrders(s, d)
      val cur = Snapshot.currentVersion(s, dir)
      val m = Snapshot.manifest(s, dir, cur)
      val lo = new java.math.BigDecimal("260000.00")
      val hi = new java.math.BigDecimal("370000.00")
      val planned = graft.sources.SourcePruning.candidates(m,
        Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("price", lo),
          org.apache.spark.sql.sources.LessThanOrEqual("price", hi)))
      s.read.format("graft").load(dir)
        .filter(col("price").between(lit(lo), lit(hi)))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), F.od(sum(col("price"))).as("total"))
        .withColumn("n_pruned", lit(planned.size.toLong))
        .orderBy(col("status"))
    }),

    "q166_stats_count" -> ((s, d) => {
      // METADATA-ONLY COUNT(*) ([[Snapshot.rowCountMeta]] — Delta's
      // numRecords): every write's stats pass stamps each file's row
      // count into its manifest entry, so the warehouse's most common
      // query answers from manifest arithmetic alone — Σ rows − Σ
      // masked DV positions, zero data access, any table size. The
      // query emits the engine's own metadata answer (asserted present
      // — a fallback scan here would be the regression) alongside the
      // file count and the clustering range off the same entries; the
      // oracle recomputes all four from the raw orders slice the
      // [[moneyOrders]] bands partition. DV-awareness and the honest
      // unknown-rows fallback (hive-adopted entries) are spec-pinned.
      val dir = moneyOrders(s, d)
      val m = Snapshot.manifest(s, dir, Snapshot.currentVersion(s, dir))
      val nMeta = Snapshot.rowCountMeta(s, dir).getOrElse(
        throw new IllegalStateException(
          s"moneyOrders files under $dir carry no row-count stamps " +
            "(pre-round-16 build?) — delete the table dir and rebuild"))
      import s.implicits._
      Seq((nMeta, m.files.size.toLong,
        m.files.map(_.min).min, m.files.map(_.max).max))
        .toDF("n_rows", "n_files", "min_key", "max_key")
    }),

    "q167_stats_range" -> ((s, d) => {
      // METADATA-ONLY RANGE AGGREGATES ([[rangeOrders]] →
      // [[Snapshot.metaRangeSplit]] / [[Snapshot.clusteringMinMaxMeta]]
      // riding [[graft.plans.MetadataOnlyCountRule]]): a clustering
      // range count through the front door answers the predicate's
      // INTERIOR from row stamps (files wholly inside [250,624] — one
      // band file) and scans ONLY the straddling boundary file; global
      // MIN/MAX of the clustering column is pure manifest arithmetic
      // (zero files scanned). `n_scan` carries the engine's own
      // boundary-set size (count row — oracle pins 1 of 4 files) and
      // its metadata-eligibility witness (minmax row — 0 = answered
      // with no scan); the oracle recomputes both aggregates from raw
      // orders. Plan shapes and guards are spec-pinned in SourceSpec.
      val dir = rangeOrders(s, d)
      val m = Snapshot.manifest(s, dir, Snapshot.currentVersion(s, dir))
      val (inside, boundary) = Snapshot.metaRangeSplit(m, 250L, 624L)
      require(inside > 0,
        "planted interior file must answer from stamps alone")
      val fd = s.read.format("graft").load(dir)
      val cnt = fd.filter(col("key2").between(250L, 624L))
        .agg(count(lit(1)).as("n"))
        .select(lit("count").as("phase"), col("n"),
          lit(null).cast("long").as("mn"), lit(null).cast("long").as("mx"),
          lit(boundary.size.toLong).as("n_scan"))
      val mm = fd.agg(count(lit(1)).as("n"), min(col("key2")).as("mn"),
          max(col("key2")).as("mx"))
        .select(lit("minmax").as("phase"), col("n"), col("mn"), col("mx"),
          lit(if (Snapshot.clusteringMinMaxMeta(m).isDefined) 0L else -1L)
            .as("n_scan"))
      cnt.unionAll(mm).orderBy(col("phase"))
    }),

    "q168_stats_minmax" -> ((s, d) => {
      // METADATA-ONLY MIN/MAX BEYOND THE CLUSTERING COLUMN
      // ([[Snapshot.sidecarMinMaxMeta]] / [[sidecarStrMinMaxMeta]]
      // riding [[graft.plans.MetadataOnlyCountRule]]): the write-path
      // auto-stamps are EXACT values for integral, DATE (epoch-day)
      // and STRING (full-value, UTF-8-byte-ordered) columns, so global
      // MIN/MAX over them is manifest arithmetic — zero files scanned
      // on a table of any size (timestamp/decimal stamps are
      // truncated/saturated and refuse by dtype). Two tables exercise
      // the three dtypes: the range table's STRING status + clustering
      // key, the date table's DATE o_date; `n_scan` carries the
      // engine's own eligibility witness (0 = every consulted column
      // answerable from stamps), and the oracle recomputes all the
      // aggregates from raw orders. Plan shape (LocalRelation, no
      // scan) and the refusal guards are SourceSpec-pinned.
      val rdir = rangeOrders(s, d)
      val ddir = dateOrders(s, d)
      val mR = Snapshot.manifest(s, rdir, Snapshot.currentVersion(s, rdir))
      val mD = Snapshot.manifest(s, ddir, Snapshot.currentVersion(s, ddir))
      val okR = Snapshot.sidecarStrMinMaxMeta(mR, "status").isDefined &&
        Snapshot.clusteringMinMaxMeta(mR).isDefined
      val okD = Snapshot.sidecarMinMaxMeta(mD, "o_date").isDefined
      val r = s.read.format("graft").load(rdir)
        .agg(min(col("status")).as("mn_s"), max(col("status")).as("mx_s"),
          min(col("key2")).as("mn_k"), max(col("key2")).as("mx_k"),
          count(lit(1)).as("n"))
        .select(lit("range").as("src"), col("mn_s"), col("mx_s"),
          col("mn_k"), col("mx_k"), col("n"),
          lit(if (okR) 0L else -1L).as("n_scan"))
      val dd = s.read.format("graft").load(ddir)
        .agg(min(col("o_date")).as("mn_d"), max(col("o_date")).as("mx_d"),
          count(lit(1)).as("n"))
        .select(lit("date").as("src"),
          col("mn_d").cast("string").as("mn_s"),
          col("mx_d").cast("string").as("mx_s"),
          lit(null).cast("long").as("mn_k"),
          lit(null).cast("long").as("mx_k"),
          col("n"), lit(if (okD) 0L else -1L).as("n_scan"))
      r.unionAll(dd).orderBy(col("src"))
    }),

    "q171_group_meta" -> ((s, d) => {
      // METADATA-ONLY GROUPED COUNTS ([[statusOrders]] →
      // [[Snapshot.metaGroupSplit]] riding
      // [[graft.plans.MetadataOnlyCountRule]] — Delta's
      // OptimizeMetadataOnlyQuery partition-value analog on range
      // stamps): `GROUP BY scode, count(*)` through the front door
      // answers the three SINGLE-VALUED band files (min == max ==
      // their code) from per-file row stamps and scans ONLY the
      // planted mixed-tail file, merging both by a final aggregate;
      // the `range` phase composes a clustering predicate (`scode >=
      // 79`) — in-range bands from stamps, the straddling tail
      // scanned WITH the predicate, out-of-range bands dropped.
      // `n_scan` carries the engine's own degraded-set size per phase
      // (the same split the rule plans — oracle pins 1 of 4 files
      // both times); the oracle recomputes the grouped counts from
      // raw orders. Plan shape, stamp/DV/NULL guards and verb
      // equivalence ([[Snapshot.groupCount]]) are SourceSpec-pinned.
      val dir = statusOrders(s, d)
      val m = Snapshot.manifest(s, dir, Snapshot.currentVersion(s, dir))
      val (sums, scanAll) = Snapshot.metaGroupSplit(m)
      require(sums.nonEmpty,
        "planted band files must answer from stamps alone")
      val scanRng =
        Snapshot.metaGroupSplit(m, 79L, Long.MaxValue, nullsPass = false)._2
      val fd = s.read.format("graft").load(dir)
      val all = fd.groupBy(col("scode")).agg(count(lit(1)).as("n"))
        .select(lit("all").as("phase"), col("scode"), col("n"),
          lit(scanAll.size.toLong).as("n_scan"))
      val rng = fd.filter(col("scode") >= 79)
        .groupBy(col("scode")).agg(count(lit(1)).as("n"))
        .select(lit("range").as("phase"), col("scode"), col("n"),
          lit(scanRng.size.toLong).as("n_scan"))
      all.unionAll(rng).orderBy(col("phase"), col("scode"))
    }),

    "q173_group_meta_col" -> ((s, d) => {
      // METADATA-ONLY GROUPED COUNTS ON A NON-CLUSTERING COLUMN
      // ([[statusOrders]] → [[Snapshot.metaGroupSplitCol]] riding
      // [[graft.plans.MetadataOnlyCountRule]]): the table clusters on
      // scode, but `rcode`'s own sidecar [min,max] stamps prove the
      // three band files single-valued on it too, and the round-17
      // per-column NULL WITNESS (`nulls:rcode` pseudo-column stamp)
      // makes the per-group sums exact — so `GROUP BY rcode` answers
      // from manifest arithmetic with ONLY the mixed tail file
      // scanned. `n_scan` carries the engine's own degraded-set size
      // (oracle-pinned 1 of 4); the oracle recomputes from raw
      // orders. The witness machinery, all-NULL-file and DV guards
      // are SourceSpec-pinned.
      val dir = statusOrders(s, d)
      val m = Snapshot.manifest(s, dir, Snapshot.currentVersion(s, dir))
      val (sums, scan) = Snapshot.metaGroupSplitCol(m, "rcode")
      require(sums.nonEmpty,
        "band files must answer the non-clustering split from stamps")
      s.read.format("graft").load(dir)
        .groupBy(col("rcode")).agg(count(lit(1)).as("n"))
        .select(col("rcode"), col("n"),
          lit(scan.size.toLong).as("n_scan"))
        .orderBy(col("rcode"))
    }),

    "q175_agg_meta_sum" -> ((s, d) => {
      // METADATA-ONLY SUM ([[statusOrders]] →
      // [[Snapshot.metaAggSplitCols]] / [[Snapshot.metaGroupAggSplitCols]]
      // riding [[graft.plans.MetadataOnlyCountRule]] rewrites #3/#6,
      // round 18 — past what any public system stamps): every write's
      // stats pass also records each INTEGRAL column's per-file sum as
      // the `sum:<col>` colStats pseudo-column (the null-witness
      // ride-along discipline, zero format change; EXACT Long
      // arithmetic — TRY-guarded at stamp time since round 19, so a
      // stamp is always the file's true sum and folds to exactly the
      // distributed answer whenever that answer itself fits),
      // and `SELECT sum(order_key)` answers from pure driver
      // arithmetic; DECIMAL columns (scale ≤ 6) stamp exact
      // micro-unit sums the same way (doubles never — order-dependent).
      // Three phases through the front door: `global` (count(*) +
      // integral sum + decimal sum — all four files stamped, zero
      // files scanned), `group` (GROUP BY the non-clustering rcode
      // with count + integral sum — the three single-valued band files
      // from stamps, ONLY the planted mixed tail scanned and merged)
      // and `money` (the same grouped split summing the DECIMAL price
      // — the decimal hybrid merge). `n_scan` carries the engine's own
      // split sizes (oracle-pinned 0, 1, 1 of 4);
      // the oracle recomputes both phases from raw orders. DV
      // refusal (a mask invalidates a stored sum), all-NULL → NULL
      // (not 0), the hybrid union merge, the clustering-column
      // refusal, and the `sum:`-shadow discipline are SourceSpec-pinned.
      val dir = statusOrders(s, d)
      val m = Snapshot.manifest(s, dir, Snapshot.currentVersion(s, dir))
      val (_, _, _, scanG) =
        Snapshot.metaAggSplitCols(m, Seq(Snapshot.SumSpec("order_key")))
      require(scanG.isEmpty,
        "every band file must carry the order_key sum stamp")
      val (sums, scanGrp) = Snapshot.metaGroupAggSplitCols(m, "rcode",
        gIsClustering = false, Seq(Snapshot.SumSpec("order_key")))
      require(sums.nonEmpty,
        "band files must answer the grouped-sum split from stamps")
      // the DECIMAL measure (price, scale 2) stamps exact micro-unit
      // sums — the money phase's grouped split shares the same scan
      // set (eligibility is per-(g,c) stamps, identical here)
      val (sumsP, scanP) = Snapshot.metaGroupAggSplitCols(m, "rcode",
        gIsClustering = false, Seq(Snapshot.SumSpec("price")))
      require(sumsP.nonEmpty,
        "band files must answer the decimal grouped-sum from stamps")
      val fd = s.read.format("graft").load(dir)
      val nullL = lit(null).cast("long")
      val nullD = lit(null).cast("double")
      val glob = fd.agg(count(lit(1)).as("n"),
          sum(col("order_key")).as("sk"), sum(col("price")).as("spd"))
        .select(lit("global").as("phase"), lit(-1).as("rcode"),
          col("n"), col("sk"), F.od(col("spd")).as("sp"),
          lit(scanG.size.toLong).as("n_scan"))
      val grp = fd.groupBy(col("rcode"))
        .agg(count(lit(1)).as("n"), sum(col("order_key")).as("sk"))
        .select(lit("group").as("phase"), col("rcode"), col("n"),
          col("sk"), nullD.as("sp"), lit(scanGrp.size.toLong).as("n_scan"))
      val mon = fd.groupBy(col("rcode"))
        .agg(count(lit(1)).as("n"), sum(col("price")).as("spd"))
        .select(lit("money").as("phase"), col("rcode"), col("n"),
          nullL.as("sk"), F.od(col("spd")).as("sp"),
          lit(scanP.size.toLong).as("n_scan"))
      // the RANGE-FILTERED window (round-18 extension of rewrite #6):
      // `sum(order_key) WHERE scode >= 79` — the 79/80 bands wholly
      // inside sum from stamps, the mixed tail (min 70) straddles and
      // scans WITH the predicate, the 70 band vanishes
      val (_, _, _, scanR) = Snapshot.metaAggSplitCols(m,
        Seq(Snapshot.SumSpec("order_key")),
        bounds = Some((79L, Long.MaxValue)))
      val rng = fd.filter(col("scode") >= 79)
        .agg(count(lit(1)).as("n"), sum(col("order_key")).as("sk"))
        .select(lit("range").as("phase"), lit(-1).as("rcode"),
          col("n"), col("sk"), nullD.as("sp"),
          lit(scanR.size.toLong).as("n_scan"))
      glob.unionAll(grp).unionAll(mon).unionAll(rng)
        .orderBy(col("phase"), col("rcode"))
    }),

    "q176_agg_meta_extrema" -> ((s, d) => {
      // METADATA-ONLY GROUPED AND WINDOWED MIN/MAX ([[statusOrders]] →
      // [[Snapshot.metaGroupAggSplitCols]] / [[Snapshot.metaAggSplitCols]]
      // riding MetadataOnlyCountRule rewrite #6, round 18 — the
      // {min,max} × {grouped, range-window} arms that complete the
      // reflex matrix): `group` rolls up count + min/max(order_key) BY
      // the non-clustering rcode — per-group extremes from each band
      // file's exact [min,max] sidecar stamps, ONLY the planted mixed
      // tail scanned and merged; `window` runs count + min/max +
      // sum(order_key) inside `scode >= 79` — the two wholly-inside
      // bands answer from stamps, the straddling tail scans WITH the
      // predicate. `n_scan` carries the engine's own split sizes
      // (oracle-pinned 1 and 1 of 4); the oracle recomputes both
      // phases from raw orders. The DV-degrades-one-file hybrid, the
      // NULL-partial merge, widened-cast dtype agreement, and the
      // all-NULL-group NULL answers are SourceSpec/property-pinned.
      val dir = statusOrders(s, d)
      val m = Snapshot.manifest(s, dir, Snapshot.currentVersion(s, dir))
      val (sums, scanG) = Snapshot.metaGroupAggSplitCols(m, "rcode",
        gIsClustering = false, Seq(Snapshot.RangeSpec("order_key")))
      require(sums.nonEmpty,
        "band files must answer the grouped extrema from stamps")
      val (_, _, _, scanW) = Snapshot.metaAggSplitCols(m,
        Seq(Snapshot.RangeSpec("order_key"),
          Snapshot.SumSpec("order_key")),
        bounds = Some((79L, Long.MaxValue)))
      val fd = s.read.format("graft").load(dir)
      val nullL = lit(null).cast("long")
      val grp = fd.groupBy(col("rcode"))
        .agg(count(lit(1)).as("n"), min(col("order_key")).as("mn"),
          max(col("order_key")).as("mx"))
        .select(lit("group").as("phase"), col("rcode"), col("n"),
          col("mn"), col("mx"), nullL.as("sk"),
          lit(scanG.size.toLong).as("n_scan"))
      val win = fd.filter(col("scode") >= 79)
        .agg(count(lit(1)).as("n"), min(col("order_key")).as("mn"),
          max(col("order_key")).as("mx"), sum(col("order_key")).as("sk"))
        .select(lit("window").as("phase"), lit(-1).as("rcode"),
          col("n"), col("mn"), col("mx"), col("sk"),
          lit(scanW.size.toLong).as("n_scan"))
      grp.unionAll(win).orderBy(col("phase"), col("rcode"))
    }),

    "q177_agg_meta_avg" -> ((s, d) => {
      // METADATA-ONLY AVG ([[statusOrders]] →
      // [[Snapshot.metaAggSplitCols]] / [[Snapshot.metaGroupAggSplitCols]]
      // riding MetadataOnlyCountRule's round-19 avg arm — the last
      // common aggregate of the reflex matrix): avg(c) answers as
      // stamped sum ÷ stamped non-null count, with the final division
      // run through Spark's OWN `Average.evaluateExpression` over the
      // stamped partials — typing, rounding, and overflow semantics
      // are Spark's code, never a re-implementation. Three phases
      // through the front door: `global` (count(*) + integral avg +
      // DECIMAL avg — all four band files stamped, zero scanned; the
      // decimal value leaves the query as exact micro-units so the
      // oracle can reproduce the half-up rounding in integer
      // arithmetic), `group` (GROUP BY the non-clustering rcode —
      // three band files from stamps, ONLY the planted mixed tail
      // scanned, per-group (sum, count) pairs merged UNDIVIDED and
      // divided once) and `window` (avg inside `scode >= 79` — the
      // wholly-inside bands from stamps, the straddling tail scans
      // WITH the predicate). `n_scan` carries the engine's own split
      // sizes (oracle-pinned 0, 1, 1 of 4). The decimal-hybrid
      // refusal, DV degrade, all-NULL → NULL, clustering-column and
      // scale-18 refusals, compaction re-stamping, and time travel
      // are SourceSpec-pinned.
      val dir = statusOrders(s, d)
      val m = Snapshot.manifest(s, dir, Snapshot.currentVersion(s, dir))
      val (_, _, _, scanG) = Snapshot.metaAggSplitCols(m,
        Seq(Snapshot.SumSpec("order_key"),
          Snapshot.CountSpec("order_key"),
          Snapshot.SumSpec("price"), Snapshot.CountSpec("price")))
      require(scanG.isEmpty,
        "every band file must carry the sum + witness stamps avg needs")
      val (sums, scanGrp) = Snapshot.metaGroupAggSplitCols(m, "rcode",
        gIsClustering = false,
        Seq(Snapshot.SumSpec("order_key"),
          Snapshot.CountSpec("order_key")))
      require(sums.nonEmpty,
        "band files must answer the grouped-avg split from stamps")
      val (_, _, _, scanW) = Snapshot.metaAggSplitCols(m,
        Seq(Snapshot.SumSpec("order_key"),
          Snapshot.CountSpec("order_key")),
        bounds = Some((79L, Long.MaxValue)))
      val fd = s.read.format("graft").load(dir)
      val nullL = lit(null).cast("long")
      // the micro-unit projection sits ABOVE the aggregate so the
      // Aggregate node itself keeps pure avg outputs (the rewrite
      // matches whole aggregates)
      val glob = fd.agg(count(lit(1)).as("n"),
          avg(col("order_key")).as("ak"), avg(col("price")).as("apd"))
        .select(lit("global").as("phase"), lit(-1).as("rcode"),
          col("n"), col("ak"),
          (col("apd") * lit(1000000)).cast("long").as("ap_micros"),
          lit(scanG.size.toLong).as("n_scan"))
      val grp = fd.groupBy(col("rcode"))
        .agg(count(lit(1)).as("n"), avg(col("order_key")).as("ak"))
        .select(lit("group").as("phase"), col("rcode"), col("n"),
          col("ak"), nullL.as("ap_micros"),
          lit(scanGrp.size.toLong).as("n_scan"))
      val win = fd.filter(col("scode") >= 79)
        .agg(count(lit(1)).as("n"), avg(col("order_key")).as("ak"))
        .select(lit("window").as("phase"), lit(-1).as("rcode"),
          col("n"), col("ak"), nullL.as("ap_micros"),
          lit(scanW.size.toLong).as("n_scan"))
      glob.unionAll(grp).unionAll(win)
        .orderBy(col("phase"), col("rcode"))
    }),

    "q180_agg_meta_gwindow" -> ((s, d) => {
      // GROUPED AGGREGATES UNDER A CLUSTERING-RANGE WINDOW
      // ([[statusOrders]] → [[Snapshot.metaGroupAggSplitCols]] with
      // bounds, riding aggRewrite's round-19 filtered grouped path —
      // THE dashboard query: "rows, revenue, and average ticket per
      // day for the last week"): `GROUP BY scode … WHERE scode >= lo`
      // serves wholly-inside single-valued bands from stamps, lets
      // wholly-outside bands VANISH (NULL keys fail any range too),
      // and degrades only straddlers into a restricted grouped scan
      // that keeps the predicate. Two phases: `week` (scode >= 79 —
      // bands 79/80 from stamps, the planted mixed tail [70,79]
      // straddles and scans, band 70 vanishes; count + sum + avg per
      // band) and `day` (scode BETWEEN 80 AND 200 — ONE whole band,
      // ZERO files scanned). `n_scan` carries the engine's own split
      // sizes (oracle-pinned 1 and 0 of 4); the oracle recomputes
      // both phases from raw orders. The straddler/vanish/contradiction
      // /non-clustering-refusal ladder is SourceSpec-pinned.
      val dir = statusOrders(s, d)
      val m = Snapshot.manifest(s, dir, Snapshot.currentVersion(s, dir))
      val specs = Seq(Snapshot.SumSpec("order_key"),
        Snapshot.CountSpec("order_key", cluster = false))
      val (sumsW, scanW) = Snapshot.metaGroupAggSplitCols(m, "scode",
        gIsClustering = true, specs, bounds = Some((79L, Long.MaxValue)))
      require(sumsW.nonEmpty,
        "inside bands must answer the windowed grouped split from stamps")
      val (_, scanD) = Snapshot.metaGroupAggSplitCols(m, "scode",
        gIsClustering = true, specs, bounds = Some((80L, 200L)))
      require(scanD.isEmpty, "a whole-band window must not scan")
      val fd = s.read.format("graft").load(dir)
      def phase(name: String, lo: Int, hi: Int, nScan: Long) =
        fd.filter(col("scode") >= lo && col("scode") <= hi)
          .groupBy(col("scode"))
          .agg(count(lit(1)).as("n"), sum(col("order_key")).as("sk"),
            avg(col("order_key")).as("ak"))
          .select(lit(name).as("phase"), col("scode"), col("n"),
            col("sk"), col("ak"), lit(nScan).as("n_scan"))
      phase("week", 79, 1000, scanW.size.toLong)
        .unionAll(phase("day", 80, 200, scanD.size.toLong))
        .orderBy(col("phase"), col("scode"))
    }),

    "q179_agg_meta_moments" -> ((s, d) => {
      // METADATA-ONLY VARIANCE/STDDEV ([[momentOrders]] →
      // MetadataOnlyCountRule kind 7, round 19 — past the reflex
      // matrix: no public system stamps per-file second moments):
      // every write's stats pass also records each integral column's
      // per-file Σx² (the `sq:` pseudo-column, try_multiply-gated per
      // ROW so a present stamp proves every |x| ≤ ~3.04e9 — which is
      // also why the analyzer's double cast is exact and the raw
      // moments ARE the cast values' moments), and
      // var_samp/var_pop/stddev_samp/stddev_pop answer from driver
      // arithmetic: m2 = (n·Σx² − (Σx)²) exactly in big-integer
      // space, ONE deterministic rounding chain (dbl(D)/n, then the
      // function's own evaluation — n==0/n==1/nullOnDivideByZero
      // semantics are Spark's own code), where Spark's scanned m2 is
      // partition-order-dependent in the last ulps — the q39/AVG
      // argument: there is no single scan answer to betray, and the
      // stamp answer is deterministic and exact-to-one-rounding,
      // which is what lets this query be ORACLED at all (the oracle
      // reproduces the identical IEEE chain over exact HUGEINT
      // moments — a scanned variance could never hash-match).
      // Full-metadata-only: DVs, unstamped files, overflowed squares,
      // or straddling windows refuse to the plain scan
      // (SourceSpec-pinned). Three phases: `global` (all four moment
      // shapes + count), `group` BY the non-clustering rcode (pure
      // bands only — per-group moments from stamps), `window`
      // var_samp inside `scode >= 79` (whole files only). `n_scan`
      // oracle-pinned 0 of 3 everywhere.
      val dir = momentOrders(s, d)
      val m = Snapshot.manifest(s, dir, Snapshot.currentVersion(s, dir))
      val specs = Seq(Snapshot.SumSpec("order_key"),
        Snapshot.CountSpec("order_key"),
        Snapshot.SumSpec("order_key", Snapshot.SqPfx))
      val (_, _, _, scanG) = Snapshot.metaAggSplitCols(m, specs)
      require(scanG.isEmpty,
        "every band file must carry sum + sq + witness stamps")
      val (sums, scanGrp) = Snapshot.metaGroupAggSplitCols(m, "rcode",
        gIsClustering = false, specs)
      require(sums.nonEmpty && scanGrp.isEmpty,
        "pure bands must answer the grouped moments from stamps")
      val (_, _, _, scanW) = Snapshot.metaAggSplitCols(m, specs,
        bounds = Some((79L, Long.MaxValue)))
      require(scanW.isEmpty, "the window must cover whole bands")
      val fd = s.read.format("graft").load(dir)
      val nullD = lit(null).cast("double")
      val glob = fd.agg(count(lit(1)).as("n"),
          var_samp(col("order_key")).as("vs"),
          var_pop(col("order_key")).as("vp"),
          stddev_samp(col("order_key")).as("ss"),
          stddev_pop(col("order_key")).as("sp"))
        .select(lit("global").as("phase"), lit(-1).as("rcode"),
          col("n"), col("vs"), col("vp"), col("ss"), col("sp"),
          lit(0L).as("n_scan"))
      val grp = fd.groupBy(col("rcode"))
        .agg(count(lit(1)).as("n"), var_samp(col("order_key")).as("vs"))
        .select(lit("group").as("phase"), col("rcode"), col("n"),
          col("vs"), nullD.as("vp"), nullD.as("ss"), nullD.as("sp"),
          lit(scanGrp.size.toLong).as("n_scan"))
      val win = fd.filter(col("scode") >= 79)
        .agg(count(lit(1)).as("n"), var_samp(col("order_key")).as("vs"))
        .select(lit("window").as("phase"), lit(-1).as("rcode"),
          col("n"), col("vs"), nullD.as("vp"), nullD.as("ss"),
          nullD.as("sp"), lit(scanW.size.toLong).as("n_scan"))
      glob.unionAll(grp).unionAll(win)
        .orderBy(col("phase"), col("rcode"))
    }),

    "q178_stats_hll" -> ((s, d) => {
      // HLL DISTINCT-COUNT SIDECARS ([[hllOrders]] →
      // [[Snapshot.optimizeHll]] / [[Snapshot.metaDistinctMeta]],
      // round 19 — the r17/r18 verdicts' sketch ask): per-file
      // HyperLogLog registers ride the strStats machinery as the
      // `hll:<col>` pseudo-column (zero format change), merge by
      // element-wise max on the driver (an HLL union is exact), and
      // answer approximate COUNT(DISTINCT col) on ANY layout with
      // ZERO files scanned — where q172's exact metadata answer needs
      // the by-value clustered layout. Certified by the q28 oracle
      // discipline: the query emits the exact distinct counts (the
      // oracle recomputes them from raw orders) plus deterministic
      // error certificates — the high-cardinality key estimate within
      // 10% (> 5σ of the p=12 sketch's rsd 1.6%), the 3-value rcode
      // estimate EXACT via the linear-counting arm. `n_scan_est`
      // pins the contract that the estimates come from the manifest
      // fold alone. DV refusal, compaction-degrade + re-stamp, the
      // all-NULL answer, payload corruption, and the hll:-shadow
      // discipline are SourceSpec-pinned.
      val dir = hllOrders(s, d)
      val m = Snapshot.manifest(s, dir, Snapshot.currentVersion(s, dir))
      val (estK, _) = Snapshot.metaDistinctMeta(m, "order_key")
        .getOrElse(throw new IllegalStateException(
          "order_key sketch must serve the merged estimate"))
      val (estR, _) = Snapshot.metaDistinctMeta(m, "rcode")
        .getOrElse(throw new IllegalStateException(
          "rcode sketch must serve the merged estimate"))
      s.read.format("graft").load(dir)
        .agg(count(lit(1)).as("n"),
          countDistinct(col("order_key")).as("nd_key"),
          countDistinct(col("rcode")).as("nd_rcode"))
        .select(col("n"), col("nd_key"), col("nd_rcode"),
          (abs(lit(estK) - col("nd_key")) <= col("nd_key") * lit(0.10))
            .as("key_within_10pct"),
          (lit(estR) === col("nd_rcode")).as("rcode_exact"),
          lit(0L).as("n_scan_est"))
    }),

    "q183_agg_meta_moments_dv" -> ((s, d) => {
      // HYBRID variance/stddev IN THE ORACLE GATE ([[momentOrdersDv]]
      // → the round-20 kind-7 hybrid arm): a PARTIAL deletion vector
      // inside band 70 (`order_key % 5 == 0` — underivable from
      // stamps) forces the moment rewrites into the exact merge —
      // band 70 scans RESTRICTED under its mask, aggregating Σx/Σx²
      // as DECIMAL(38,0) exact integers (the sq: stamp's per-row gate
      // proves every scanned value bounded), bands 79/80 serve from
      // stamps, and the union runs the SAME deterministic chain as
      // the pure-stamp arm (MomentM2's BigInt difference, one double
      // conversion, the aggregate's own evaluation) — which is what
      // lets a DV'd variance be ORACLED at all: DuckDB reproduces the
      // identical IEEE chain over exact HUGEINT moments of the
      // unmasked rows. Three phases mirror q179: `global` (hybrid —
      // n_scan pins the DV'd file as the ONLY scan), `group` BY the
      // non-clustering rcode (hybrid, same single file), `window`
      // scode >= 79 (the DV'd band lies wholly OUTSIDE the window and
      // VANISHES — pure metadata, n_scan 0).
      val dir = momentOrdersDv(s, d)
      val m = Snapshot.manifest(s, dir, Snapshot.currentVersion(s, dir))
      val specs = Seq(Snapshot.SumSpec("order_key"),
        Snapshot.CountSpec("order_key"),
        Snapshot.SumSpec("order_key", Snapshot.SqPfx))
      val (_, _, _, scanG) = Snapshot.metaAggSplitCols(m, specs)
      require(scanG.map(_.path).toSet == m.dvs.keySet,
        "exactly the DV'd band must degrade into the hybrid scan")
      val (_, scanGrp) = Snapshot.metaGroupAggSplitCols(m, "rcode",
        gIsClustering = false, specs)
      require(scanGrp.map(_.path).toSet == m.dvs.keySet,
        "the grouped split must degrade the same single file")
      val (_, _, _, scanW) = Snapshot.metaAggSplitCols(m, specs,
        bounds = Some((79L, Long.MaxValue)))
      require(scanW.isEmpty,
        "the DV'd band lies outside the window and must vanish")
      val fd = s.read.format("graft").load(dir)
      val nullD = lit(null).cast("double")
      val glob = fd.agg(count(lit(1)).as("n"),
          var_samp(col("order_key")).as("vs"),
          var_pop(col("order_key")).as("vp"),
          stddev_samp(col("order_key")).as("ss"),
          stddev_pop(col("order_key")).as("sp"))
        .select(lit("global").as("phase"), lit(-1).as("rcode"),
          col("n"), col("vs"), col("vp"), col("ss"), col("sp"),
          lit(scanG.size.toLong).as("n_scan"))
      val grp = fd.groupBy(col("rcode"))
        .agg(count(lit(1)).as("n"), var_samp(col("order_key")).as("vs"))
        .select(lit("group").as("phase"), col("rcode"), col("n"),
          col("vs"), nullD.as("vp"), nullD.as("ss"), nullD.as("sp"),
          lit(scanGrp.size.toLong).as("n_scan"))
      val win = fd.filter(col("scode") >= 79)
        .agg(count(lit(1)).as("n"), var_samp(col("order_key")).as("vs"))
        .select(lit("window").as("phase"), lit(-1).as("rcode"),
          col("n"), col("vs"), nullD.as("vp"), nullD.as("ss"),
          nullD.as("sp"), lit(scanW.size.toLong).as("n_scan"))
      glob.unionAll(grp).unionAll(win)
        .orderBy(col("phase"), col("rcode"))
    }),

    "q186_agg_meta_moments_window" -> ((s, d) => {
      // STRADDLED-WINDOW moment hybrids in the oracle gate
      // ([[rangeMoments]] → the round-20 kind-7 hybrid's bounds arm):
      // a clustering-range window (`key2 BETWEEN 100 AND 600`) cuts
      // INTO two of the four band files — they scan RESTRICTED with
      // the predicate while the wholly-inside band serves from stamps
      // and the outside band VANISHES. The straddlers' sq: stamps
      // prove their values bounded, so their Σx/Σx² scan partials are
      // exact DECIMAL(38,0) integers and the merge runs the same
      // deterministic chain as the pure-stamp arm — DuckDB reproduces
      // the identical IEEE arithmetic over HUGEINT moments of the
      // window's rows and the hash gate matches. `global` is the
      // pure-stamp serve (n_scan 0); `window` pins n_scan 2 of 4.
      val dir = rangeMoments(s, d)
      val m = Snapshot.manifest(s, dir, Snapshot.currentVersion(s, dir))
      val specs = Seq(Snapshot.SumSpec("v"), Snapshot.CountSpec("v"),
        Snapshot.SumSpec("v", Snapshot.SqPfx))
      val (_, _, _, scanG) = Snapshot.metaAggSplitCols(m, specs)
      require(scanG.isEmpty,
        "every band must carry sum + sq + witness stamps")
      val (_, _, _, scanW) = Snapshot.metaAggSplitCols(m, specs,
        bounds = Some((100L, 600L)))
      require(scanW.size == 2,
        s"exactly the two straddlers must scan, got ${scanW.size}")
      val fd = s.read.format("graft").load(dir)
      val glob = fd.agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
          var_samp(col("v")).as("vs"), stddev_samp(col("v")).as("ss"))
        .select(lit("global").as("phase"), col("n"), col("sv"),
          col("vs"), col("ss"), lit(0L).as("n_scan"))
      val win = fd.filter(col("key2") >= 100 && col("key2") <= 600)
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
          var_samp(col("v")).as("vs"), stddev_samp(col("v")).as("ss"))
        .select(lit("window").as("phase"), col("n"), col("sv"),
          col("vs"), col("ss"), lit(scanW.size.toLong).as("n_scan"))
      glob.unionAll(win).orderBy(col("phase"))
    }),

    "q184_agg_meta_avg_dv" -> ((s, d) => {
      // HYBRID DECIMAL AVG IN THE ORACLE GATE ([[momentOrdersDv]] →
      // the round-20 decimal-buffer hybrid lift): the DV'd band's
      // restricted scan sums the decimal price exactly AT the buffer
      // dtype, the widened union total is bound back by the
      // mode-matched CheckOverflowInSum, and Average's own
      // DecimalDivideWithOverflowCheck divides once (half-up to
      // scale+4) — exact and deterministic on BOTH sides of the
      // union, which is what lets a deletion-vectored decimal AVG be
      // ORACLED: DuckDB reproduces the identical micro-unit half-up
      // chain over exact HUGEINT cents of the unmasked rows. Phases:
      // `global` hybrid (n_scan pins the DV'd file as the only scan),
      // `group` BY the non-clustering rcode (the GROUPED decimal
      // hybrid — this round's lift), `window` scode >= 79 (the DV'd
      // band vanishes — pure metadata, n_scan 0). The micro-unit
      // projection sits above each aggregate and rides the wrapper
      // machinery once CollapseProject folds it in.
      val dir = momentOrdersDv(s, d)
      val m = Snapshot.manifest(s, dir, Snapshot.currentVersion(s, dir))
      val specs = Seq(Snapshot.SumSpec("p"), Snapshot.CountSpec("p"))
      val (_, _, _, scanG) = Snapshot.metaAggSplitCols(m, specs)
      require(scanG.map(_.path).toSet == m.dvs.keySet,
        "exactly the DV'd band must degrade into the avg hybrid scan")
      val (_, scanGrp) = Snapshot.metaGroupAggSplitCols(m, "rcode",
        gIsClustering = false, specs)
      require(scanGrp.map(_.path).toSet == m.dvs.keySet,
        "the grouped split must degrade the same single file")
      val (_, _, _, scanW) = Snapshot.metaAggSplitCols(m, specs,
        bounds = Some((79L, Long.MaxValue)))
      require(scanW.isEmpty,
        "the DV'd band lies outside the window and must vanish")
      val fd = s.read.format("graft").load(dir)
      def phase(df: DataFrame, name: String,
          rcode: org.apache.spark.sql.Column, nScan: Long): DataFrame =
        df.select(lit(name).as("phase"), rcode.as("rcode"), col("n"),
          (col("apd") * lit(1000000)).cast("long").as("ap_micros"),
          lit(nScan).as("n_scan"))
      val glob = phase(fd.agg(count(lit(1)).as("n"),
        avg(col("p")).as("apd")), "global", lit(-1), scanG.size.toLong)
      val grp = phase(fd.groupBy(col("rcode"))
        .agg(count(lit(1)).as("n"), avg(col("p")).as("apd")),
        "group", col("rcode"), scanGrp.size.toLong)
      val win = phase(fd.filter(col("scode") >= 79)
        .agg(count(lit(1)).as("n"), avg(col("p")).as("apd")),
        "window", lit(-1), scanW.size.toLong)
      glob.unionAll(grp).unionAll(win)
        .orderBy(col("phase"), col("rcode"))
    }),

    "q182_approx_rewrite" -> ((s, d) => {
      // CONF-GATED approx_count_distinct REWRITE ([[hllOrders]] →
      // [[graft.plans.MetadataOnlyCountRule.approxDistinctRewrite]],
      // round 20 — the r19 verdict's optional 7(a)): with
      // spark.graft.rewrite.approxDistinctSketch=true (an EXPLICIT
      // per-session opt-in — the sidecar estimate differs from
      // Spark's HLL++ estimate, so the swap is never silent; OFF by
      // default and OFF in every other query this suite runs), the
      // registered spelling `approx_count_distinct(col)` itself plans
      // a LocalRelation served from the q178 sidecar merge — zero
      // files scanned. The opted-in session is a NEW session (conf
      // isolation); `plan_local` carries the plan witness, and the
      // estimates ride the q178 certificate discipline against
      // oracle-recomputed exact counts. Tightness guard, default-off,
      // grouped serving, and the DV/unsketched refusals are
      // SourceSpec-pinned.
      val dir = hllOrders(s, d)
      val ns = s.newSession()
      ns.conf.set(
        graft.plans.MetadataOnlyCountRule.ApproxDistinctSketchKey, "true")
      val served = ns.read.format("graft").load(dir)
        .agg(approx_count_distinct(col("order_key")).as("e1"),
          approx_count_distinct(col("rcode")).as("e2"),
          count(lit(1)).as("n"))
      val planLocal = served.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources
          .LogicalRelation => lr }.isEmpty
      val sr = served.collect().head
      val (estK, estR, nMeta) =
        (sr.getLong(0), sr.getLong(1), sr.getLong(2))
      s.read.format("graft").load(dir)
        .agg(count(lit(1)).as("n"),
          countDistinct(col("order_key")).as("nd_key"),
          countDistinct(col("rcode")).as("nd_rcode"))
        .select(col("n"), col("nd_key"), col("nd_rcode"),
          lit(planLocal).as("plan_local"),
          (lit(nMeta) === col("n")).as("n_exact"),
          (abs(lit(estK) - col("nd_key")) <= col("nd_key") * lit(0.10))
            .as("key_within_10pct"),
          (lit(estR) === col("nd_rcode")).as("rcode_exact"))
    }),

    "q181_stats_hll_group" -> ((s, d) => {
      // PER-GROUP HLL distinct estimates ([[hllBandOrders]] →
      // [[Snapshot.metaGroupDistinctMeta]], round 20 — the r19
      // verdict's grouped-parity task): the q178 element-wise-max
      // merge run PER GROUP over files provably single-valued on the
      // grouping column — "distinct users per tenant/day" from
      // sketches alone, ZERO files scanned, at any per-group
      // cardinality. ALL-OR-NOTHING: a sketch cannot be split across
      // groups, so DVs, mixed-valued files, or missing sketches
      // refuse whole rather than hybrid-merge (an exact scanned count
      // plus an estimate would double-count the overlap) — the
      // refusal ladder is SourceSpec-pinned. Certified by the q178
      // discipline: the query emits each band's EXACT distinct count
      // (the oracle recomputes them from raw orders) plus a
      // deterministic within-10% certificate per band derived from
      // the manifest fold alone.
      val dir = hllBandOrders(s, d)
      val m = Snapshot.manifest(s, dir, Snapshot.currentVersion(s, dir))
      val (ests, _) = Snapshot.metaGroupDistinctMeta(m, "band",
        gIsClustering = true, "order_key")
        .getOrElse(throw new IllegalStateException(
          "banded order_key sketches must serve per-group estimates"))
      import s.implicits._
      val estDf = ests.toSeq
        .map { case (g, e) => (g.getOrElse(-1L), e) }.toDF("band", "est")
      s.read.format("graft").load(dir)
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("order_key")).as("nd_key"))
        .join(broadcast(estDf), Seq("band"))
        .select(col("band"), col("n"), col("nd_key"),
          (abs(col("est") - col("nd_key")) <= col("nd_key") * lit(0.10))
            .as("key_within_10pct"),
          lit(0L).as("n_scan_est"))
        .orderBy(col("band"))
    }),

    "q172_stats_dcount" -> ((s, d) => {
      // METADATA-ONLY count(key) / count(DISTINCT key)
      // ([[statusOrders]] → [[Snapshot.metaGroupSplit]] riding
      // [[graft.plans.MetadataOnlyCountRule]] rewrite #5): "how many
      // non-null keys" and "how many codes" answered from the same
      // grouped stamp arithmetic — the three single-valued band files
      // contribute their sums, the planted mixed-tail file is the ONLY
      // one scanned, and the distinct count merges stamped and scanned
      // values (a code seen on both sides collapses). `n_scan` carries
      // the engine's own degraded-set size (oracle-pinned 1 of 4);
      // the oracle recomputes all three counts from raw orders. Plan
      // shape, DV-masked-value vanishing and the non-clustering
      // refusal are SourceSpec-pinned.
      val dir = statusOrders(s, d)
      val m = Snapshot.manifest(s, dir, Snapshot.currentVersion(s, dir))
      val (sums, scan) = Snapshot.metaGroupSplit(m)
      require(sums.nonEmpty,
        "planted band files must answer from stamps alone")
      s.read.format("graft").load(dir)
        .agg(count(col("scode")).as("n_key"),
          countDistinct(col("scode")).as("n_distinct"),
          count(lit(1)).as("n_rows"))
        .select(col("n_key"), col("n_distinct"), col("n_rows"),
          lit(scan.size.toLong).as("n_scan"))
    }),

    "q169_join_sip" -> ((s, d) => {
      // SIDEWAYS INFORMATION PASSING ([[SipJoin]] over [[rangeOrders]]):
      // a fact ⋈ small-dim join where the dim's keys — not the query
      // text — decide which fact FILES the scan opens. Three phases:
      // `inlist` summarizes a 25-key dim verbatim (keys 0,13,…,312 span
      // two of the four band files → n_scan 2), `range` forces the
      // envelope fallback with maxKeys=8 (keys 0..888 straddle all four
      // bands → n_scan 4 — coarser, honestly), `empty` passes a
      // provably-empty dim (zero files planned, the join folds away).
      // `n_scan` carries the engine's own [[SipJoin.plannedFiles]]
      // witness — the same candidacy code the relation's buildScan
      // runs — and the oracle pins it with the join answers. Bloom-
      // backed IN pruning (range-overlapping file skipped because its
      // sketch holds no dim key) is SipJoinSpec-pinned on the
      // bloom-sidecar table.
      val dir = rangeOrders(s, d)
      val m = Snapshot.manifest(s, dir, Snapshot.currentVersion(s, dir))
      val fact = s.read.format("graft").load(dir)
      val nat = T.nation(s, d)
      def phase(name: String, dim: DataFrame, maxKeys: Int): DataFrame = {
        val ks = SipJoin.dimKeys(dim, "dk", LongType, maxKeys)
        val nScan = SipJoin.plannedFiles(m, "key2", ks).size.toLong
        SipJoin.sipJoinWith(fact, dim, "key2", "dk", ks)
          .agg(count(lit(1)).as("n"),
            coalesce(sum(col("key2")), lit(0L)).as("sk"))
          .select(lit(name).as("phase"), col("n"), col("sk"),
            lit(nScan).as("n_scan"))
      }
      val dimIn = nat.select((col("n_nationkey") * 13).cast("long").as("dk"))
      val dimRg = nat.select((col("n_nationkey") * 37).cast("long").as("dk"))
      val dimEmpty = nat.filter(lit(false))
        .select(col("n_nationkey").cast("long").as("dk"))
      phase("inlist", dimIn, maxKeys = 1024)
        .unionAll(phase("range", dimRg, maxKeys = 8))
        .unionAll(phase("empty", dimEmpty, maxKeys = 1024))
        .orderBy(col("phase"))
    }),

    "q170_join_sip_auto" -> ((s, d) => {
      // AUTOMATIC SIP through the front door
      // ([[graft.plans.SipJoinRule]] over [[rangeOrders]] ⋈
      // [[sipDim]]): two plain graft reads equi-joined with NO verb
      // and NO hint — the optimizer injects the dim's manifest
      // envelope ([0,312], the dim's own clustering stamps) onto the
      // fact's key2 scan at plan time, zero planning jobs, and the
      // fact opens only the two low band files. `sip` carries the
      // engine's own witness: 1 iff the optimized plan holds both
      // envelope bounds on key2 — the oracle pins it at 1 along with
      // the join rollup. The kill switch, per-join-type soundness,
      // DV refusal and the load-bearing file skip are
      // SipRuleSpec-pinned.
      import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference, Expression, GreaterThanOrEqual, LessThanOrEqual, Literal => CLit}
      import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
      val fact = s.read.format("graft").load(rangeOrders(s, d))
      val dim = s.read.format("graft").load(sipDim(s, d))
      val j = fact.join(dim, col("key2") === col("dk"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("key2")).as("sk"))
      def conj(e: Expression): Seq[Expression] = e match {
        case CAnd(l, r) => conj(l) ++ conj(r)
        case x          => Seq(x)
      }
      val bs = j.queryExecution.optimizedPlan.collect {
        case f: LFilter => conj(f.condition)
      }.flatten.collect {
        case GreaterThanOrEqual(a: AttributeReference, CLit(v: Long, LongType))
            if a.name == "key2" => (">=", v)
        case LessThanOrEqual(a: AttributeReference, CLit(v: Long, LongType))
            if a.name == "key2" => ("<=", v)
      }
      val sip = bs.contains((">=", 0L)) && bs.contains(("<=", 312L))
      j.select(col("status"), col("n"), col("sk"),
          lit(if (sip) 1L else 0L).as("sip"))
        .orderBy(col("status"))
    }),

    "q185_join_sip_candidacy" -> ((s, d) => {
      // ZERO-JOB candidacy-narrowed SIP (round 20 — [[rangeOrders]] ⋈
      // [[sipBandDim]] filtered on the NON-key tag): the dim filter's
      // conjunct runs the scan's own FILE candidacy on the driver —
      // only the b1 band file survives (its tag strStats separate the
      // files), so its dk stamps [91,169] inject onto the fact's key2
      // where q170's whole-table envelope spans [0,312] and TWO fact
      // bands — and the fact opens ONE band file of four with NO
      // planning job (the dynamic arm is never armed here; this is
      // the static transitivity between q170's zero-job leaf envelope
      // and q174's one-job exact keys). `sip` carries the engine's
      // plan witness (both NARROWED bounds present on key2), `n_scan`
      // the fact candidacy count under them — oracle-pinned 1 of 4
      // against raw arithmetic.
      import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference, Expression, GreaterThanOrEqual, LessThanOrEqual, Literal => CLit}
      import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
      val fdir = rangeOrders(s, d)
      val fact = s.read.format("graft").load(fdir)
      val dim = s.read.format("graft").load(sipBandDim(s, d))
        .filter(col("tag") === "b1")
      val j = fact.join(dim, col("key2") === col("dk"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("key2")).as("sk"))
      def conj(e: Expression): Seq[Expression] = e match {
        case CAnd(l, r) => conj(l) ++ conj(r)
        case x          => Seq(x)
      }
      val bs = j.queryExecution.optimizedPlan.collect {
        case f: LFilter => conj(f.condition)
      }.flatten.collect {
        case GreaterThanOrEqual(a: AttributeReference, CLit(v: Long, LongType))
            if a.name == "key2" => (">=", v)
        case LessThanOrEqual(a: AttributeReference, CLit(v: Long, LongType))
            if a.name == "key2" => ("<=", v)
      }
      val sip = bs.contains((">=", 91L)) && bs.contains(("<=", 169L))
      val fm = Snapshot.manifest(s, fdir,
        Snapshot.currentVersion(s, fdir))
      val nScan = fm.files.count(f => f.min <= 169L && f.max >= 91L)
      j.select(col("status"), col("n"), col("sk"),
          lit(if (sip) 1L else 0L).as("sip"),
          lit(nScan.toLong).as("n_scan"))
        .orderBy(col("status"))
    }),

    "q174_join_sip_dynamic" -> ((s, d) => {
      // DYNAMIC SIP (q170's rule + the bounded planning job,
      // [[graft.plans.SipJoinRule.dynamicSummary]]): the dim is
      // HARD-FILTERED on its NON-key name column (`dname <
      // 'NATION_13'` keeps 5 of 25 nations), so the static leaf
      // envelope [0,312] — everything q170's zero-job path can ever
      // know — still spans two of the fact's four band files, while
      // the planning job summarizes the filter's 5 SURVIVING keys
      // {0,13,130,143,156} verbatim and the fact plans exactly ONE
      // band file. `n_keys`
      // carries the injected key-list size read back from the
      // optimized plan; `n_scan` the engine's own
      // [[SipJoin.plannedFiles]] candidacy witness over those keys —
      // both pinned by the oracle against raw-data arithmetic. The
      // dynamic arm is PLAN-SCOPED (round 19 — the r18 verdict's #2):
      // the fact read carries `option("sipDynamic", "true")`, so only
      // THIS query's optimization may pay the dim job — no session
      // conf is toggled, and a concurrent plain query planning in the
      // same session never fires one (SipRuleSpec-pinned, along with
      // the guard ladder, load-bearing file skip, and A/B equality).
      import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference, Expression, In => CIn, InSet, Literal => CLit}
      import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
      val dir = rangeOrders(s, d)
      val m = Snapshot.manifest(s, dir, Snapshot.currentVersion(s, dir))
      val fact = s.read.format("graft")
        .option("sipDynamic", "true").load(dir)
      val dim = s.read.format("graft").load(sipDim(s, d))
        .filter(col("dname") < "NATION_13")
      val j = fact.join(dim, col("key2") === col("dk"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("key2")).as("sk"))
      def conj(e: Expression): Seq[Expression] = e match {
        case CAnd(l, r) => conj(l) ++ conj(r)
        case x          => Seq(x)
      }
      val keys: Seq[Long] =
        j.queryExecution.optimizedPlan.collect {
          case f: LFilter => conj(f.condition)
        }.flatten.collect {
          case CIn(a: AttributeReference, vs) if a.name == "key2" =>
            vs.collect { case CLit(v: Long, LongType) => v }
          case is: InSet
              if is.child.isInstanceOf[AttributeReference] &&
                is.child.asInstanceOf[AttributeReference].name == "key2" =>
            is.hset.toSeq.map(_.asInstanceOf[Long])
        }.flatten.distinct.sorted
      val nScan =
        SipJoin.plannedFiles(m, "key2", SipJoin.KeyList(keys)).size.toLong
      j.select(col("status"), col("n"), col("sk"),
          lit(keys.length.toLong).as("n_keys"), lit(nScan).as("n_scan"))
        .orderBy(col("status"))
    }),

    "q165_manifest_chain" -> ((s, d) => {
      // DELTA-MANIFEST log ([[chainOrders]]): 12 single-file carried
      // commits publish as full(v1) + deltas(v2–v9) + checkpoint(v10) +
      // deltas(v11–v12) under the default checkpointEvery=10 policy —
      // per-commit metadata ∝ the one added file, not the table.
      // `phase=cur` reads the head through the front door (resolved
      // v10→v11→v12); `phase=v07` time-travels to a MID-CHAIN delta
      // version (v7 = buckets 0..6, resolved through six deltas from
      // the v1 root). `n_delta` carries the engine's own header-peek
      // count of delta-published versions; the oracle pins it at 10
      // and recomputes both rollups from raw orders.
      val dir = chainOrders(s, d)
      val nDelta = (1 to Snapshot.currentVersion(s, dir))
        .count(v => Snapshot.manifestFormat(s, dir, v) == "delta").toLong
      def agg(df: DataFrame, phase: String): DataFrame =
        df.groupBy(lit(phase).as("phase"), col("status"))
          .agg(count(lit(1)).as("n"), F.od(sum(col("price"))).as("total"))
      agg(s.read.format("graft").load(dir), "cur")
        .unionAll(agg(Snapshot.read(s, dir, 7), "v07"))
        .withColumn("n_delta", lit(nDelta))
        .orderBy(col("phase"), col("status"))
    }),

    "q160_empty_version" -> ((s, d) => {
      // EMPTY VERSION as a legal state ([[emptyOrders]]): v2 deleted
      // every row — a zero-file manifest whose stored schema serves the
      // read (global agg over it yields n=0, total NULL, exactly SQL's
      // empty-input aggregate) — and v3 revived the table with a fresh
      // commit. All three phases read from ONE table's history; the
      // oracle replays the slices (and the empty phase as literals —
      // delete-all leaves nothing else to compute).
      val dir = emptyOrders(s, d)
      def phase(v: Int, name: String): DataFrame =
        Snapshot.read(s, dir, v)
          .agg(count(lit(1)).as("n"), F.od(sum(col("price"))).as("total"))
          .select(lit(name).as("phase"), col("n"), col("total"))
      phase(1, "v1").unionAll(phase(2, "v2_empty")).unionAll(phase(3, "v3"))
        .orderBy(col("phase"))
    }),

    "q161_partition_evolution" -> ((s, d) => {
      // PARTITION EVOLUTION on an adopted estate ([[evolvedHive]]): the
      // two-level band=/grp= tree was adopted clustered on band, then
      // re-clustered on grp by manifest arithmetic alone — this
      // grp-range read PLANS exactly grp 1..3's directories from the
      // re-derived stats (no listing, no footer reads, no bytes moved
      // by the evolution). Oracle recomputes the grp rollup from raw
      // orders.
      Snapshot.readPruned(s, evolvedHive(s, d), 1L, 3L)
        .groupBy(col("grp").cast("long").as("grp"))
        .agg(count(lit(1)).as("n"), F.od(sum(col("price"))).as("total"))
        .orderBy(col("grp"))
    }),

    "q162_vacuum_report" -> ((s, d) => {
      // VACUUM dry-run as a DataFrame ([[vacuumedOrders]]): the captured
      // report counted 2 data dirs — the live rewrite and v1's expired
      // 4-file orphan — and the REAL vacuum then reclaimed exactly the
      // orphan: the surviving version reads intact after reclaim
      // (post_vacuum_rows), which is the report's safety claim made
      // checkable. Oracle: the dir/file arithmetic is pinned by the
      // fixture's construction; the row count recomputes from raw
      // orders.
      val Array(dir, repPath) = vacuumedOrders(s, d).split(';')
      val rep = s.read.parquet(repPath)
      val melted = rep.agg(
          count(lit(1)).as("dirs"),
          sum(when(col("live"), 1L).otherwise(0L)).as("live_dirs"),
          sum(when(col("reclaimable"), 1L).otherwise(0L))
            .as("reclaimable_dirs"),
          sum(when(col("reclaimable"), col("n_files")).otherwise(0L))
            .as("reclaimable_files"))
        .select(explode(map(
          lit("dirs"), col("dirs"),
          lit("live_dirs"), col("live_dirs"),
          lit("reclaimable_dirs"), col("reclaimable_dirs"),
          lit("reclaimable_files"), col("reclaimable_files")))
          .as(Seq("metric", "value")))
      val survived = Snapshot.read(s, dir)
        .agg(count(lit(1)).as("value"))
        .select(lit("post_vacuum_rows").as("metric"), col("value"))
      melted.unionAll(survived).orderBy(col("metric"))
    }),

    "q157_rename_drop" -> ((s, d) => {
      // COLUMN MAPPING as committed versions: the table renamed
      // price→amount and dropped verdict by two manifest publishes —
      // zero data movement — then took an ordinary append THROUGH the
      // mapped schema ([[mapOrders]]). The rollup runs entirely in
      // LOGICAL names over files that physically store the ORIGINAL
      // names (old files) next to one that never had the dropped column
      // in its logical view — the read funnel resolves all of it; v1
      // still time-travels with its original schema (spec-pinned).
      // Oracle recomputes base + appended batch from raw orders.
      Snapshot.read(s, mapOrders(s, d))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), F.od(sum(col("amount"))).as("total"))
        .orderBy(col("status"))
    }),

    "q156_update_dv" -> ((s, d) => {
      // MERGE-ON-READ UPDATE as a committed version: v4 bumped the
      // [600,899] 'O' prices +10% and stamped verdict 'U' by masking
      // the 247-odd matched rows' positions and appending ONLY their
      // post-images ([[Snapshot.updateWhereDV]] — cost ∝ updated rows,
      // never touched-file bytes; SnapshotSpec pins the masked+appended
      // file arithmetic and the U-classified feed). Same breakdown
      // shape as q135; the oracle replays both DV deletes then the
      // update over raw orders.
      Snapshot.read(s, dvOrders(s, d), 4)
        .groupBy(col("status"), col("verdict"))
        .agg(count(lit(1)).as("n"), F.od(sum(col("price"))).as("total"))
        .orderBy(col("status"), col("verdict"))
    }),

    "q135_update_cow" -> ((s, d) => {
      // COW UPDATE as a committed version: v3 bumped 'O' prices +10% in
      // key range [600,899] and stamped their verdict lineage 'U' — SET
      // expressions see the OLD row by construction
      // ([[Snapshot.updateWhere]]'s single-projection semantics). The
      // (status, verdict) breakdown makes both the touched and untouched
      // populations visible; oracle recomputes the update over raw
      // orders.
      Snapshot.read(s, dmlOrders(s, d), 3)
        .groupBy(col("status"), col("verdict"))
        .agg(count(lit(1)).as("n"), F.od(sum(col("price"))).as("total"))
        .orderBy(col("status"), col("verdict"))
    }),

    "q138_clone_cow" -> ((s, d) => {
      // SHALLOW CLONE diverging copy-on-write: the clone was forked from
      // the v1 source by one manifest write (absolute file references —
      // zero bytes copied) and q42's CDC batch merged into IT alone.
      // The query reads both tables side by side: the clone answers with
      // the merged state, the source with the untouched original — the
      // zero-risk sandbox the clone exists for. Oracle recomputes both
      // from raw orders; SnapshotSpec pins the structural halves (source
      // versions unchanged, clone vacuum reclaims nothing, deep-copy
      // severance).
      val (srcDir, cloneDir) = clonedOrders(s, d)
      def agg(dir: String, phase: String): DataFrame =
        Snapshot.read(s, dir)
          .groupBy(lit(phase).as("phase"), col("status"))
          .agg(count(lit(1)).as("n"), F.od(sum(col("price"))).as("total"))
      agg(cloneDir, "clone").unionAll(agg(srcDir, "source"))
        .orderBy(col("phase"), col("status"))
    }),

    "q137_check_constraint" -> ((s, d) => {
      // CHECK CONSTRAINT at the transactional table — the reference's DQ
      // gate (A20) made a property of the TABLE instead of one pipeline:
      // the staged table carries `price >= 0`, a valid CDC batch merged
      // through it normally ('state' rows ≡ q129's merged aggregate),
      // and a poisoned batch (key%20==5 flipped negative) is REJECTED
      // atomically — the engine's own violation count lands in the
      // 'rejected' row and the state rows prove nothing leaked. Oracle
      // recomputes both from raw orders.
      val dir = checkedOrders(s, d)
      val m5 = col("o_orderkey") % 20
      val poison = T.orders(s, d).filter(m5 === 5).select(
        col("o_orderkey").as("k"), lit("U").as("op"),
        (-F.dec2(col("o_totalprice"))).cast(DecimalType(21, 3)).as("c_price"),
        lit(null).cast("long").as("c_cust"),
        lit(null).cast("string").as("c_status"))
      val nViolating =
        try {
          Snapshot.mergeCow(s, dir, poison, "k", applyOrdersChanges)
          -1L // unreachable: the commit must reject
        } catch {
          case e: Snapshot.CheckViolation => e.counts("price_nonneg")
        }
      Snapshot.read(s, dir)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), F.od(sum(col("price"))).as("total"))
        .select(lit("state").as("phase"), col("status"), col("n"),
          col("total"))
        .unionAll(s.range(1).select(lit("rejected").as("phase"),
          lit(null).cast("string").as("status"),
          lit(nViolating).as("n"), lit(null).cast("double").as("total")))
        .orderBy(col("phase"), col("status"))
    }),

    "q140_schema_evolution" -> ((s, d) => {
      // SCHEMA EVOLUTION read end to end: the current snapshot mixes
      // pre-evolution files (channel physically absent → typed NULL
      // via the manifest's declared-column conformance) with the COW
      // batch's post-evolution files carrying written values — grouped
      // per (status, channel) with NULL made an explicit 'none' so both
      // engines group and sort identically. Oracle recomputes the same
      // from raw orders; SnapshotSpec pins the structural halves (v1
      // keeps the narrow schema, v2 reads the column as all-NULL,
      // writers missing the column are rejected).
      Snapshot.read(s, evoOrders(s, d))
        .groupBy(col("status"),
          coalesce(col("channel"), lit("none")).as("channel"))
        .agg(count(lit(1)).as("n"), F.od(sum(col("price"))).as("total"))
        .orderBy(col("status"), col("channel"))
    }),

    "q136_restore_version" -> ((s, d) => {
      // RESTORE as a committed rollback: v4 references v1's files by
      // manifest alone ([[Snapshot.restore]] — zero data movement), so
      // the post-restore state must equal the original load EXACTLY
      // while the undone delete+update remain time-travelable at v3.
      // Both phases emitted: 'pre' = the damaged v3 (q135's state),
      // 'post' = the restored current — the oracle recomputes each from
      // raw orders, proving the rollback byte-exact and the audit trail
      // intact.
      val dir = restoreOrders(s, d)
      def agg(v: Int, phase: String): DataFrame =
        Snapshot.read(s, dir, v)
          .groupBy(lit(phase).as("phase"), col("status"))
          .agg(count(lit(1)).as("n"), F.od(sum(col("price"))).as("total"))
      agg(3, "pre").unionAll(agg(4, "post"))
        .orderBy(col("phase"), col("status"))
    }),

    "q128_change_feed" -> ((s, d) => {
      // CHANGE DATA FEED by snapshot diff: the CDC batch RECOVERED from
      // the table's own immutable history (v1 → v2), no change log ever
      // written — carried files cancel by manifest arithmetic, the
      // null-safe full-outer join classifies the rest into U/D/I with
      // pre-image semantics for deletes ([[Snapshot.changeFeed]]).
      // Oracle = the same U/D/I derived from the raw CDC definition.
      // SQL-visible like q125: the feed lands in a session view any SQL
      // can consume — the consuming projection IS SQL here.
      Snapshot.changeFeed(s, snapOrders(s, d), 1, 2, "order_key")
        .createOrReplaceTempView("snap_orders_changes")
      s.sql("""
        SELECT order_key, change_type, cust_key, status,
               CAST(price AS DOUBLE) AS price, verdict
        FROM snap_orders_changes
        ORDER BY order_key""")
    }),

    "q129_view_subscribe" -> ((s, d) => {
      // The CDF CONSUMED: a per-status (count, decimal-sum) materialized
      // view built on v1 is brought up to date by SUBSCRIBING to the
      // recovered v1→v2 change feed in pre/post-image form — I/U+ rows
      // credit their group, D/U- rows debit theirs (an update that moved
      // groups would transfer automatically). q38's delta discipline,
      // but sourced from the table's own history instead of a known CDC
      // batch; oracle = full recompute over the v2 state. At 100 TB the
      // subscription reads rewritten files only, the view join touches
      // group-cardinality rows.
      val dir = snapOrders(s, d)
      val mv = Snapshot.read(s, dir, 1)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n0"), sum(col("price")).as("s0"))
      val credit = col("change_type").isin("I", "U+")
      val delta = Snapshot
        .changeFeed(s, dir, 1, 2, "order_key", preImages = true)
        .select(col("status"),
          when(credit, 1L).otherwise(-1L).as("dn"),
          when(credit, col("price")).otherwise(-col("price")).as("ds"))
        .groupBy(col("status"))
        .agg(sum(col("dn")).as("dn"), sum(col("ds")).as("ds"))
      val z = lit(0).cast(DecimalType(21, 3))
      mv.join(delta, Seq("status"), "full_outer")
        .select(col("status"),
          (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
          F.od(coalesce(col("s0"), z) + coalesce(col("ds"), z)).as("total"))
        .filter(col("n") > 0)
        .orderBy(col("status"))
    }),

    "q38_agg_incremental" -> ((s, d) => {
      // Incremental aggregate maintenance (materialized-view delta
      // update): a per-priority (count, decimal-sum) view is brought up to
      // date for q42's CDC batch by applying per-group DELTAS — update
      // rows contribute (0, new−old), deletes (−1, −old), inserts
      // (+1, +new) — and the oracle proves incremental == full recompute
      // over the merged state. At 100 TB this is the point: the update
      // join touches group-cardinality rows only (view ⟗ delta on the
      // group key, both agg-sized), never a rescan of the fact table; the
      // delta aggregate reads just the CDC batch. Every measure here is
      // additive — the discipline that makes a measure maintainable
      // (count/sum/decimal are; max/distinct are not without auxiliary
      // state).
      val p213 = DecimalType(21, 3)
      val mv = T.orders(s, d)
        .groupBy(col("o_orderpriority").as("prio"))
        .agg(count(lit(1)).as("n0"),
             sum(F.dec2(col("o_totalprice")).cast(p213)).as("s0"))
      val m = col("o_orderkey") % 20
      val p = F.dec2(col("o_totalprice")).cast(p213)
      val delta = T.orders(s, d).filter(m.isin(0, 1, 2))
        .select(col("o_orderpriority").as("prio"),
          when(m === 0, 0L).when(m === 1, -1L).otherwise(1L).as("dn"),
          when(m === 0, bump(F.dec2(col("o_totalprice"))).cast(p213) - p)
            .when(m === 1, -p).otherwise(p).as("ds"))
        .groupBy(col("prio"))
        .agg(sum(col("dn")).as("dn"), sum(col("ds")).as("ds"))
      mv.join(delta, Seq("prio"), "full_outer")
        .select(col("prio"),
          (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
          F.od(coalesce(col("s0"), lit(0).cast(p213)) +
               coalesce(col("ds"), lit(0).cast(p213))).as("total"))
        .filter(col("n") > 0)
        .orderBy(col("prio"))
    }),

    "q43_scd2_history" -> ((s, d) => {
      // SCD2 dimension build: per-customer order-status history compressed
      // to change runs (gaps-and-islands), each run one versioned row with
      // [valid_from, valid_to) and is_current. Ordering ties on a same-day
      // status flip break by o_orderkey, so run boundaries are
      // deterministic cross-engine.
      val byTime = Window.partitionBy(col("cust"))
        .orderBy(col("dt").asc, col("ok").asc)
      val cum = byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val runs = T.orders(s, d).select(
          col("o_custkey").as("cust"), col("o_orderkey").as("ok"),
          col("o_orderdate").as("dt"), col("o_orderstatus").as("st"))
        .withColumn("chg",
          when(lag(col("st"), 1).over(byTime).isNull ||
               lag(col("st"), 1).over(byTime) =!= col("st"), 1L).otherwise(0L))
        .withColumn("version", sum(col("chg")).over(cum))
      val dim = runs.groupBy(col("cust"), col("version"), col("st"))
        .agg(min(col("dt")).as("vf"), count(lit(1)).as("n_orders"))
      val byVersion = Window.partitionBy(col("cust")).orderBy(col("version").asc)
      dim.withColumn("vt", lead(col("vf"), 1).over(byVersion))
        .select(
          col("cust").as("cust_key"), col("version"),
          col("st").as("status"),
          F.d(col("vf")).as("valid_from"),
          F.d(col("vt")).as("valid_to"),
          col("vt").isNull.cast(LongType).as("is_current"),
          col("n_orders"))
        .orderBy(col("cust_key"), col("version"))
    })
  )

  /** q42's oracle — also q124's, verbatim: a green hash on q124 proves
    * the snapshot-versioned MERGE lands exactly the one-shot plan's
    * answer (the q120/q113 same-oracle proof pattern). */
  private val mergeOracle =
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey, o_orderstatus,
        |         CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        |ch AS (
        |  SELECT CASE WHEN o_orderkey % 20 = 2 THEN o_orderkey + 1000000000
        |              ELSE o_orderkey END AS k,
        |         CASE o_orderkey % 20 WHEN 0 THEN 'U' WHEN 1 THEN 'D'
        |              ELSE 'I' END AS op,
        |         CASE WHEN o_orderkey % 20 = 0
        |                THEN CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(2,1))
        |              WHEN o_orderkey % 20 = 2
        |                THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3))
        |         END AS c_price,
        |         CASE WHEN o_orderkey % 20 = 2 THEN o_custkey END AS c_cust,
        |         CASE WHEN o_orderkey % 20 = 2 THEN 'N' END AS c_status
        |  FROM orders WHERE o_orderkey % 20 IN (0, 1, 2))
        |SELECT coalesce(base.k, ch.k) AS order_key,
        |  coalesce(c_cust, o_custkey) AS cust_key,
        |  coalesce(c_status, o_orderstatus) AS status,
        |  CAST(coalesce(c_price, CAST(p AS DECIMAL(21,3))) AS DOUBLE) AS price,
        |  coalesce(op, 'K') AS verdict
        |FROM base FULL JOIN ch ON base.k = ch.k
        |WHERE coalesce(op, 'K') <> 'D'
        |ORDER BY order_key""".stripMargin

  /** The per-status (count, exact-decimal sum) recompute over the merged
    * v2 orders state — the ground truth BOTH view-maintenance paths
    * answer against: q129's one-shot subscription and q133's continuous
    * streamed one (the same-oracle twin proof: same final state, two
    * delivery disciplines). */
  private[graft] val viewOracle: String =
    """WITH base AS (
      |  SELECT o_orderkey AS k, o_orderstatus AS status,
      |         CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
      |ch AS (
      |  SELECT CASE WHEN o_orderkey % 20 = 2 THEN o_orderkey + 1000000000
      |              ELSE o_orderkey END AS k,
      |         CASE o_orderkey % 20 WHEN 0 THEN 'U' WHEN 1 THEN 'D'
      |              ELSE 'I' END AS op,
      |         CASE WHEN o_orderkey % 20 = 0
      |                THEN CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(2,1))
      |              WHEN o_orderkey % 20 = 2
      |                THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3))
      |         END AS c_price,
      |         CASE WHEN o_orderkey % 20 = 2 THEN 'N' END AS c_status
      |  FROM orders WHERE o_orderkey % 20 IN (0, 1, 2)),
      |v2 AS (
      |  SELECT coalesce(c_status, status) AS status,
      |         coalesce(c_price, CAST(p AS DECIMAL(21,3))) AS price
      |  FROM base FULL JOIN ch ON base.k = ch.k
      |  WHERE coalesce(op, 'K') <> 'D')
      |SELECT status, count(*) AS n, CAST(sum(price) AS DOUBLE) AS total
      |FROM v2 GROUP BY status ORDER BY status
      |""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q132_bloom_point" ->
      """SELECT o_orderkey AS order_key, o_custkey AS cust_key,
        |       o_orderstatus AS status,
        |       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |FROM orders
        |WHERE o_orderkey IN (137, 428, 999, 1204, 1400, 2000000, 3000001)
        |ORDER BY order_key
        |""".stripMargin,

    "q42_merge_upsert" -> mergeOracle,
    "q124_merge_versioned" -> mergeOracle,
    "q146_sql_merge" -> mergeOracle,

    // lake + appended 'C' batch; 4 adopted source refs, 2 versions
    "q153_convert_parquet" ->
      """WITH pr AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3)) AS price
        |  FROM orders),
        |u AS (
        |  SELECT status, price FROM pr
        |  UNION ALL SELECT 'C', price FROM pr WHERE k % 10 = 5)
        |SELECT status, count(*) AS n, CAST(sum(price) AS DOUBLE) AS total,
        |       CAST(4 AS BIGINT) AS n_src_refs,
        |       CAST(2 AS BIGINT) AS n_versions
        |FROM u GROUP BY status ORDER BY status
        |""".stripMargin,

    // every DESCRIBE DETAIL field on the lifecycle table is a
    // deterministic constant
    "q154_sql_detail" ->
      """SELECT CAST(6 AS BIGINT) AS version, 'order_key' AS stats_col,
        |       CAST(8 AS BIGINT) AS n_files,
        |       CAST(1 AS BIGINT) AS n_constraints,
        |       CAST(1 AS BIGINT) AS n_added_cols,
        |       'schema:add:chan' AS note
        |""".stripMargin,

    // the string twin of q132: md5 refs of the same probe keys
    "q152_bloom_string" ->
      """SELECT o_orderkey AS order_key, o_custkey AS cust_key,
        |       o_orderstatus AS status,
        |       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
        |       md5(CAST(o_orderkey AS VARCHAR)) AS ref
        |FROM orders
        |WHERE o_orderkey IN (137, 428, 999, 1204, 1400, 2000000, 3000001)
        |ORDER BY order_key
        |""".stripMargin,

    // the damaged phase = the load minus the SQL DELETE's rows; the
    // final phase = the original load exactly (RESTORE is byte-exact,
    // OPTIMIZE/constraint/column are content-neutral); 6 committed
    // versions: create, constraint, delete, optimize, restore, column
    "q148_sql_lifecycle" ->
      """WITH st AS (
        |  SELECT o_orderstatus AS status, o_orderkey AS k,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3)) AS price
        |  FROM orders),
        |dmg AS (
        |  SELECT status, price FROM st
        |  WHERE NOT (k BETWEEN 200 AND 399 AND status = 'F'))
        |SELECT 'damaged' AS phase, status, count(*) AS n,
        |       CAST(sum(price) AS DOUBLE) AS total,
        |       CAST(6 AS BIGINT) AS n_versions
        |FROM dmg GROUP BY status
        |UNION ALL
        |SELECT 'final', status, count(*), CAST(sum(price) AS DOUBLE),
        |       CAST(6 AS BIGINT)
        |FROM st GROUP BY status
        |ORDER BY phase, status
        |""".stripMargin,

    // the rebased append must hold the load plus BOTH racing batches
    // exactly once each, in exactly 3 committed versions
    "q149_append_rebase" ->
      """WITH pr AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3)) AS price
        |  FROM orders),
        |u AS (
        |  SELECT status, price FROM pr
        |  UNION ALL SELECT 'A', price FROM pr WHERE k % 10 = 3
        |  UNION ALL SELECT 'B', price FROM pr WHERE k % 10 = 7)
        |SELECT status, count(*) AS n, CAST(sum(price) AS DOUBLE) AS total,
        |       CAST(3 AS BIGINT) AS n_versions
        |FROM u GROUP BY status ORDER BY status
        |""".stripMargin,

    // content identical across the bin-pack; 5 files (4 carried + 1
    // merged tail) in 8 versions
    "q150_optimize_incremental" ->
      """WITH pr AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3)) AS price
        |  FROM orders),
        |u AS (
        |  SELECT status, price FROM pr
        |  UNION ALL SELECT 'S', price FROM pr WHERE k % 1000 BETWEEN 500 AND 505)
        |SELECT status, count(*) AS n, CAST(sum(price) AS DOUBLE) AS total,
        |       CAST(5 AS BIGINT) AS n_files, CAST(8 AS BIGINT) AS n_versions
        |FROM u GROUP BY status ORDER BY status
        |""".stripMargin,

    // the organic channel = the k % 3 = 1 slice; string-stats pruning
    // plans exactly that commit's 2 files (of 6)
    "q151_stats_string" ->
      """SELECT o_orderstatus AS status, count(*) AS n,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3))) AS DOUBLE) AS total,
        |  CAST(2 AS BIGINT) AS n_pruned
        |FROM orders WHERE o_orderkey % 3 = 1
        |GROUP BY o_orderstatus ORDER BY status
        |""".stripMargin,

    "q141_source_read" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey, o_orderstatus,
        |         CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        |ch AS (
        |  SELECT CASE WHEN o_orderkey % 20 = 2 THEN o_orderkey + 1000000000
        |              ELSE o_orderkey END AS k,
        |         CASE o_orderkey % 20 WHEN 0 THEN 'U' WHEN 1 THEN 'D'
        |              ELSE 'I' END AS op,
        |         CASE WHEN o_orderkey % 20 = 0
        |                THEN CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(2,1))
        |              WHEN o_orderkey % 20 = 2
        |                THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3))
        |         END AS c_price,
        |         CASE WHEN o_orderkey % 20 = 2 THEN o_custkey END AS c_cust,
        |         CASE WHEN o_orderkey % 20 = 2 THEN 'N' END AS c_status
        |  FROM orders WHERE o_orderkey % 20 IN (0, 1, 2))
        |SELECT coalesce(base.k, ch.k) AS order_key,
        |  coalesce(c_cust, o_custkey) AS cust_key,
        |  coalesce(c_status, o_orderstatus) AS status,
        |  CAST(coalesce(c_price, CAST(p AS DECIMAL(21,3))) AS DOUBLE) AS price,
        |  coalesce(op, 'K') AS verdict
        |FROM base FULL JOIN ch ON base.k = ch.k
        |WHERE coalesce(op, 'K') <> 'D'
        |  AND coalesce(base.k, ch.k) BETWEEN 200 AND 1199
        |ORDER BY order_key""".stripMargin,

    "q143_source_write" ->
      """WITH allrows AS (
        |  SELECT o_orderstatus AS status, 'K' AS verdict,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3)) AS price
        |  FROM orders
        |  UNION ALL
        |  SELECT 'N', 'I',
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3))
        |  FROM orders WHERE o_orderkey % 20 = 2)
        |SELECT status, verdict, count(*) AS n,
        |       CAST(sum(price) AS DOUBLE) AS total
        |FROM allrows GROUP BY status, verdict
        |ORDER BY status, verdict""".stripMargin,

    "q145_sql_dml" ->
      """WITH st AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3)) AS price
        |  FROM orders),
        |after_del AS (
        |  SELECT * FROM st
        |  WHERE NOT (k BETWEEN 200 AND 399 AND status = 'F')),
        |after_upd AS (
        |  SELECT status,
        |         CASE WHEN k BETWEEN 600 AND 799 AND status = 'O'
        |              THEN CAST(price * CAST(1.5 AS DECIMAL(2,1)) AS DECIMAL(21,3))
        |              ELSE price END AS price,
        |         CASE WHEN k BETWEEN 600 AND 799 AND status = 'O'
        |              THEN 'U' ELSE 'K' END AS verdict
        |  FROM after_del)
        |SELECT status, verdict, count(*) AS n,
        |       CAST(sum(price) AS DOUBLE) AS total
        |FROM after_upd GROUP BY status, verdict
        |ORDER BY status, verdict""".stripMargin,

    "q144_sql_insert" ->
      """WITH base AS (
        |  SELECT o_orderstatus AS st,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3)) AS price
        |  FROM orders),
        |both_halves AS (
        |  SELECT st AS status, 'K' AS verdict, price FROM base
        |  UNION ALL
        |  SELECT 'S', 'I', price FROM base)
        |SELECT status, verdict, count(*) AS n,
        |       CAST(sum(price) AS DOUBLE) AS total
        |FROM both_halves GROUP BY status, verdict
        |ORDER BY status, verdict""".stripMargin,

    "q134_delete_cow" ->
      """WITH st AS (
        |  SELECT o_orderstatus AS status,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3)) AS price,
        |         o_orderkey AS k
        |  FROM orders)
        |SELECT 'pre' AS phase, status, count(*) AS n,
        |       CAST(sum(price) AS DOUBLE) AS total
        |FROM st GROUP BY status
        |UNION ALL
        |SELECT 'post', status, count(*), CAST(sum(price) AS DOUBLE)
        |FROM st
        |WHERE NOT (k BETWEEN 200 AND 399 AND status = 'F')
        |GROUP BY status
        |ORDER BY phase, status
        |""".stripMargin,

    "q155_delete_dv" ->
      """WITH st AS (
        |  SELECT o_orderstatus AS status,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3)) AS price,
        |         o_orderkey AS k
        |  FROM orders)
        |SELECT 'pre' AS phase, status, count(*) AS n,
        |       CAST(sum(price) AS DOUBLE) AS total
        |FROM st GROUP BY status
        |UNION ALL
        |SELECT 'post', status, count(*), CAST(sum(price) AS DOUBLE)
        |FROM st
        |WHERE NOT (k BETWEEN 200 AND 399 AND status = 'F')
        |  AND NOT (k BETWEEN 300 AND 599 AND status = 'O')
        |GROUP BY status
        |ORDER BY phase, status
        |""".stripMargin,

    "q159_generated_col" ->
      """WITH base AS (
        |  SELECT o_orderkey % 8 AS band,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3)) AS price
        |  FROM orders),
        |app AS (
        |  SELECT (o_orderkey + 3000000000) % 8 AS band,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3)) AS price
        |  FROM orders WHERE o_orderkey % 20 = 9),
        |all_rows AS (SELECT * FROM base UNION ALL SELECT * FROM app)
        |SELECT band, count(*) AS n, CAST(sum(price) AS DOUBLE) AS total
        |FROM all_rows GROUP BY band ORDER BY band
        |""".stripMargin,

    "q158_convert_hive" ->
      """WITH st AS (
        |  SELECT CAST(o_orderkey % 8 AS BIGINT) AS band,
        |         o_orderstatus AS status,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3)) AS price
        |  FROM orders)
        |SELECT band, count(*) AS n, CAST(sum(price) AS DOUBLE) AS total
        |FROM st
        |WHERE band BETWEEN 2 AND 5 AND NOT (band = 3 AND status = 'F')
        |GROUP BY band ORDER BY band
        |""".stripMargin,

    "q163_stats_date" ->
      """WITH st AS (
        |  SELECT o_orderstatus AS status,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3)) AS price
        |  FROM orders
        |  WHERE o_orderdate BETWEEN DATE '1997-01-01' AND DATE '1997-12-31')
        |SELECT status, count(*) AS n, CAST(sum(price) AS DOUBLE) AS total,
        |       CAST(1 AS BIGINT) AS n_pruned
        |FROM st GROUP BY status ORDER BY status
        |""".stripMargin,

    "q164_stats_decimal" ->
      """WITH st AS (
        |  SELECT o_orderstatus AS status,
        |         CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders
        |  WHERE CAST(o_totalprice AS DECIMAL(18,2))
        |        BETWEEN CAST(260000.00 AS DECIMAL(18,2))
        |            AND CAST(370000.00 AS DECIMAL(18,2)))
        |SELECT status, count(*) AS n, CAST(sum(price) AS DOUBLE) AS total,
        |       CAST(1 AS BIGINT) AS n_pruned
        |FROM st GROUP BY status ORDER BY status
        |""".stripMargin,

    // the metadata COUNT(*) must equal the scan's truth: the money
    // table's 4 price bands partition orders exactly, the clustering
    // stamps are exact min/max of o_orderkey, and no DVs mask rows
    "q166_stats_count" ->
      """SELECT count(*) AS n_rows, CAST(4 AS BIGINT) AS n_files,
        |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders""".stripMargin,

    // the split's truth: the 4 band files partition o_orderkey % 1000
    // exactly, stamps are exact non-null extremes, no DVs, null
    // counts stamped zero — so interior stamps + one boundary scan
    // must equal the plain filtered count, and min/max are manifest
    // arithmetic
    "q167_stats_range" ->
      """WITH st AS (SELECT o_orderkey % 1000 AS key2 FROM orders)
        |SELECT phase, n, mn, mx, n_scan FROM (
        |  SELECT 'count' AS phase, count(*) AS n,
        |         CAST(NULL AS BIGINT) AS mn, CAST(NULL AS BIGINT) AS mx,
        |         CAST(1 AS BIGINT) AS n_scan
        |  FROM st WHERE key2 BETWEEN 250 AND 624
        |  UNION ALL
        |  SELECT 'minmax', count(*), min(key2), max(key2),
        |         CAST(0 AS BIGINT)
        |  FROM st)
        |ORDER BY phase
        |""".stripMargin,

    // the stamps' truth: auto-stats record exact min/max for string,
    // integral and date columns per file, no DVs mask rows, and every
    // file carries a positive row count — so the metadata answers must
    // equal the raw aggregates, with zero files scanned (n_scan 0)
    "q168_stats_minmax" ->
      """SELECT src, mn_s, mx_s, mn_k, mx_k, n, n_scan FROM (
        |  SELECT 'range' AS src,
        |         min(o_orderstatus) AS mn_s, max(o_orderstatus) AS mx_s,
        |         min(o_orderkey % 1000) AS mn_k,
        |         max(o_orderkey % 1000) AS mx_k,
        |         count(*) AS n, CAST(0 AS BIGINT) AS n_scan
        |  FROM orders
        |  UNION ALL
        |  SELECT 'date',
        |         CAST(min(CAST(o_orderdate AS DATE)) AS VARCHAR),
        |         CAST(max(CAST(o_orderdate AS DATE)) AS VARCHAR),
        |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |         count(*), CAST(0 AS BIGINT)
        |  FROM orders)
        |ORDER BY src
        |""".stripMargin,

    // the grouped split's truth: the 3 band files each hold exactly
    // one status code (stamps min == max), the mixed tail file is the
    // only degraded one (n_scan 1), and stamped sums + the one scanned
    // file must together equal the raw grouped counts
    "q171_group_meta" ->
      """WITH st AS (SELECT ascii(o_orderstatus) AS scode FROM orders)
        |SELECT phase, scode, n, n_scan FROM (
        |  SELECT 'all' AS phase, scode, count(*) AS n,
        |         CAST(1 AS BIGINT) AS n_scan FROM st GROUP BY 2
        |  UNION ALL
        |  SELECT 'range', scode, count(*), CAST(1 AS BIGINT)
        |  FROM st WHERE scode >= 79 GROUP BY 2)
        |ORDER BY phase, scode""".stripMargin,

    // the non-clustering split's truth: every band file is
    // single-valued on rcode with a zero null witness, the tail is the
    // only mixed file, and stamped sums + that one scan must equal the
    // raw grouped counts
    "q173_group_meta_col" ->
      """SELECT ascii(o_orderstatus) - 5 AS rcode, count(*) AS n,
        |       CAST(1 AS BIGINT) AS n_scan
        |FROM orders GROUP BY 1 ORDER BY rcode""".stripMargin,

    // the distinct-count split's truth: stamped band sums + the one
    // scanned mixed file must reproduce the raw counts, and the
    // distinct merge must collapse values seen on both sides
    // the sum stamps' truth: both phases are plain arithmetic over raw
    // orders (order_key sums are exact — far below Long range at any
    // SF), the global phase scanning zero files and the grouped phase
    // only the planted mixed tail
    "q175_agg_meta_sum" ->
      """WITH st AS (SELECT ascii(o_orderstatus) - 5 AS rcode,
        |                   o_orderkey AS k,
        |                   CAST(o_totalprice AS DECIMAL(18,2)) AS p
        |            FROM orders)
        |SELECT phase, rcode, n, sk, sp, n_scan FROM (
        |  SELECT 'global' AS phase, CAST(-1 AS INT) AS rcode,
        |         count(*) AS n, CAST(sum(k) AS BIGINT) AS sk,
        |         CAST(sum(p) AS DOUBLE) AS sp,
        |         CAST(0 AS BIGINT) AS n_scan
        |  FROM st
        |  UNION ALL
        |  SELECT 'group', rcode, count(*), CAST(sum(k) AS BIGINT),
        |         CAST(NULL AS DOUBLE), CAST(1 AS BIGINT)
        |  FROM st GROUP BY rcode
        |  UNION ALL
        |  SELECT 'money', rcode, count(*), CAST(NULL AS BIGINT),
        |         CAST(sum(p) AS DOUBLE), CAST(1 AS BIGINT)
        |  FROM st GROUP BY rcode
        |  UNION ALL
        |  SELECT 'range', CAST(-1 AS INT), count(*),
        |         CAST(sum(k) AS BIGINT), CAST(NULL AS DOUBLE),
        |         CAST(1 AS BIGINT)
        |  FROM st WHERE rcode >= 74)
        |ORDER BY phase, rcode
        |""".stripMargin,

    // the extrema rewrites' truth: per-group and in-window min/max of
    // order_key are plain arithmetic over raw orders; each phase scans
    // only the planted mixed tail
    "q176_agg_meta_extrema" ->
      """WITH st AS (SELECT ascii(o_orderstatus) - 5 AS rcode,
        |                   o_orderkey AS k FROM orders)
        |SELECT phase, rcode, n, mn, mx, sk, n_scan FROM (
        |  SELECT 'group' AS phase, rcode, count(*) AS n,
        |         min(k) AS mn, max(k) AS mx, CAST(NULL AS BIGINT) AS sk,
        |         CAST(1 AS BIGINT) AS n_scan
        |  FROM st GROUP BY rcode
        |  UNION ALL
        |  SELECT 'window', CAST(-1 AS INT), count(*), min(k), max(k),
        |         CAST(sum(k) AS BIGINT), CAST(1 AS BIGINT)
        |  FROM st WHERE rcode >= 74)
        |ORDER BY phase, rcode
        |""".stripMargin,

    // the avg rewrites' truth: integral avg is the exact sum divided
    // once (both engines compute the identical IEEE division — every
    // sum here is far below 2^53); the decimal avg leaves the query
    // as exact micro-units, reproduced oracle-side as half-up integer
    // arithmetic over the exact HUGEINT sum (floor((2M + n) / 2n)),
    // sidestepping DuckDB's double-typed decimal division
    "q177_agg_meta_avg" ->
      """WITH st AS (SELECT ascii(o_orderstatus) - 5 AS rcode,
        |                   ascii(o_orderstatus) AS scode,
        |                   o_orderkey AS k,
        |                   CAST(o_totalprice AS DECIMAL(18,2)) AS p
        |            FROM orders)
        |SELECT phase, rcode, n, ak, ap_micros, n_scan FROM (
        |  SELECT 'global' AS phase, CAST(-1 AS INT) AS rcode,
        |         count(*) AS n, avg(k) AS ak,
        |         CAST((2 * CAST(sum(p) * 1000000 AS HUGEINT) + count(*))
        |              // (2 * count(*)) AS BIGINT) AS ap_micros,
        |         CAST(0 AS BIGINT) AS n_scan
        |  FROM st
        |  UNION ALL
        |  SELECT 'group', rcode, count(*), avg(k),
        |         CAST(NULL AS BIGINT), CAST(1 AS BIGINT)
        |  FROM st GROUP BY rcode
        |  UNION ALL
        |  SELECT 'window', CAST(-1 AS INT), count(*), avg(k),
        |         CAST(NULL AS BIGINT), CAST(1 AS BIGINT)
        |  FROM st WHERE scode >= 79)
        |ORDER BY phase, rcode
        |""".stripMargin,

    // the grouped-window rewrites' truth: per-band counts/sums/avgs
    // inside each scode window, recomputed from raw orders (integral
    // avg: both engines divide the exact sum once — see q177)
    "q180_agg_meta_gwindow" ->
      """WITH st AS (SELECT ascii(o_orderstatus) AS scode,
        |                   o_orderkey AS k FROM orders)
        |SELECT phase, scode, n, sk, ak, n_scan FROM (
        |  SELECT 'week' AS phase, scode, count(*) AS n,
        |         CAST(sum(k) AS BIGINT) AS sk, avg(k) AS ak,
        |         CAST(1 AS BIGINT) AS n_scan
        |  FROM st WHERE scode >= 79 GROUP BY scode
        |  UNION ALL
        |  SELECT 'day', scode, count(*), CAST(sum(k) AS BIGINT),
        |         avg(k), CAST(0 AS BIGINT)
        |  FROM st WHERE scode BETWEEN 80 AND 200 GROUP BY scode)
        |ORDER BY phase, scode
        |""".stripMargin,

    // the moment rewrites' truth: n/Σx/Σx² recomputed exactly from raw
    // orders in HUGEINT, then the IDENTICAL IEEE chain the serve runs
    // (CAST(n·sxx − sx² AS DOUBLE) / n, then the per-shape division /
    // sqrt) — the q39 exact-moments discipline, now over stamps
    "q179_agg_meta_moments" ->
      """WITH st AS (SELECT ascii(o_orderstatus) - 5 AS rcode,
        |                   ascii(o_orderstatus) AS scode,
        |                   o_orderkey AS k FROM orders
        |            WHERE NOT (o_orderkey % 97 = 0 AND
        |                       ascii(o_orderstatus) IN (70, 79))),
        |mg AS (SELECT count(*) AS n, CAST(sum(k) AS HUGEINT) AS sx,
        |              CAST(sum(k * k) AS HUGEINT) AS sxx FROM st),
        |mr AS (SELECT rcode, count(*) AS n,
        |              CAST(sum(k) AS HUGEINT) AS sx,
        |              CAST(sum(k * k) AS HUGEINT) AS sxx
        |       FROM st GROUP BY rcode),
        |mw AS (SELECT count(*) AS n, CAST(sum(k) AS HUGEINT) AS sx,
        |              CAST(sum(k * k) AS HUGEINT) AS sxx
        |       FROM st WHERE scode >= 79)
        |SELECT phase, rcode, n, vs, vp, ss, sp, n_scan FROM (
        |  SELECT 'global' AS phase, CAST(-1 AS INT) AS rcode, n,
        |         CAST(n * sxx - sx * sx AS DOUBLE) / n / (n - 1) AS vs,
        |         CAST(n * sxx - sx * sx AS DOUBLE) / n / n AS vp,
        |         sqrt(CAST(n * sxx - sx * sx AS DOUBLE) / n / (n - 1))
        |           AS ss,
        |         sqrt(CAST(n * sxx - sx * sx AS DOUBLE) / n / n) AS sp,
        |         CAST(0 AS BIGINT) AS n_scan
        |  FROM mg
        |  UNION ALL
        |  SELECT 'group', rcode, n,
        |         CAST(n * sxx - sx * sx AS DOUBLE) / n / (n - 1),
        |         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |         CAST(NULL AS DOUBLE), CAST(0 AS BIGINT)
        |  FROM mr
        |  UNION ALL
        |  SELECT 'window', CAST(-1 AS INT), n,
        |         CAST(n * sxx - sx * sx AS DOUBLE) / n / (n - 1),
        |         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |         CAST(NULL AS DOUBLE), CAST(0 AS BIGINT)
        |  FROM mw)
        |ORDER BY phase, rcode
        |""".stripMargin,

    // the HLL sidecars' truth: exact distinct counts from raw orders;
    // the certificates are deterministic constants (the sketch is a
    // pure function of the data) the oracle pins without reproducing
    // the registers
    "q178_stats_hll" ->
      """SELECT count(*) AS n,
        |       count(DISTINCT o_orderkey) AS nd_key,
        |       count(DISTINCT ascii(o_orderstatus) - 5) AS nd_rcode,
        |       TRUE AS key_within_10pct, TRUE AS rcode_exact,
        |       CAST(0 AS BIGINT) AS n_scan_est
        |FROM orders""".stripMargin,

    // the hybrid moments' truth: the identical IEEE chain over exact
    // HUGEINT moments of the UNMASKED rows (the DV's predicate
    // re-applied); n_scan pins the DV'd band as the only scan in the
    // hybrid phases and the window's zero
    "q183_agg_meta_moments_dv" ->
      """WITH st AS (SELECT ascii(o_orderstatus) - 5 AS rcode,
        |                   ascii(o_orderstatus) AS scode,
        |                   o_orderkey AS k FROM orders
        |            WHERE NOT (o_orderkey % 97 = 0 AND
        |                       ascii(o_orderstatus) IN (70, 79))),
        |live AS (SELECT * FROM st
        |         WHERE NOT (scode = 70 AND k % 5 = 0)),
        |mg AS (SELECT count(*) AS n, CAST(sum(k) AS HUGEINT) AS sx,
        |              CAST(sum(k * k) AS HUGEINT) AS sxx FROM live),
        |mr AS (SELECT rcode, count(*) AS n,
        |              CAST(sum(k) AS HUGEINT) AS sx,
        |              CAST(sum(k * k) AS HUGEINT) AS sxx
        |       FROM live GROUP BY rcode),
        |mw AS (SELECT count(*) AS n, CAST(sum(k) AS HUGEINT) AS sx,
        |              CAST(sum(k * k) AS HUGEINT) AS sxx
        |       FROM live WHERE scode >= 79)
        |SELECT phase, rcode, n, vs, vp, ss, sp, n_scan FROM (
        |  SELECT 'global' AS phase, CAST(-1 AS INT) AS rcode, n,
        |         CAST(n * sxx - sx * sx AS DOUBLE) / n / (n - 1) AS vs,
        |         CAST(n * sxx - sx * sx AS DOUBLE) / n / n AS vp,
        |         sqrt(CAST(n * sxx - sx * sx AS DOUBLE) / n / (n - 1))
        |           AS ss,
        |         sqrt(CAST(n * sxx - sx * sx AS DOUBLE) / n / n) AS sp,
        |         CAST(1 AS BIGINT) AS n_scan
        |  FROM mg
        |  UNION ALL
        |  SELECT 'group', rcode, n,
        |         CAST(n * sxx - sx * sx AS DOUBLE) / n / (n - 1),
        |         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |         CAST(NULL AS DOUBLE), CAST(1 AS BIGINT)
        |  FROM mr
        |  UNION ALL
        |  SELECT 'window', CAST(-1 AS INT), n,
        |         CAST(n * sxx - sx * sx AS DOUBLE) / n / (n - 1),
        |         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |         CAST(NULL AS DOUBLE), CAST(0 AS BIGINT)
        |  FROM mw)
        |ORDER BY phase, rcode
        |""".stripMargin,

    // the straddled-window hybrid's truth: the q179 IEEE chain over
    // exact HUGEINT moments of the WINDOW's rows; n_scan pins the two
    // straddlers (window) and the pure-stamp zero (global)
    "q186_agg_meta_moments_window" ->
      """WITH st AS (SELECT o_orderkey % 1000 AS key2,
        |                   o_orderkey AS v FROM orders),
        |mg AS (SELECT count(*) AS n, CAST(sum(v) AS HUGEINT) AS sx,
        |              CAST(sum(v * v) AS HUGEINT) AS sxx FROM st),
        |mw AS (SELECT count(*) AS n, CAST(sum(v) AS HUGEINT) AS sx,
        |              CAST(sum(v * v) AS HUGEINT) AS sxx
        |       FROM st WHERE key2 BETWEEN 100 AND 600)
        |SELECT phase, n, sv, vs, ss, n_scan FROM (
        |  SELECT 'global' AS phase, n, CAST(sx AS BIGINT) AS sv,
        |         CAST(n * sxx - sx * sx AS DOUBLE) / n / (n - 1) AS vs,
        |         sqrt(CAST(n * sxx - sx * sx AS DOUBLE) / n / (n - 1))
        |           AS ss,
        |         CAST(0 AS BIGINT) AS n_scan
        |  FROM mg
        |  UNION ALL
        |  SELECT 'window', n, CAST(sx AS BIGINT),
        |         CAST(n * sxx - sx * sx AS DOUBLE) / n / (n - 1),
        |         sqrt(CAST(n * sxx - sx * sx AS DOUBLE) / n / (n - 1)),
        |         CAST(2 AS BIGINT)
        |  FROM mw)
        |ORDER BY phase
        |""".stripMargin,

    // the hybrid decimal avg's truth: the q177 micro-unit half-up
    // chain over exact HUGEINT cents of the UNMASKED rows
    "q184_agg_meta_avg_dv" ->
      """WITH st AS (SELECT ascii(o_orderstatus) - 5 AS rcode,
        |                   ascii(o_orderstatus) AS scode,
        |                   o_orderkey AS k,
        |                   CAST(o_totalprice AS DECIMAL(18,2)) AS p
        |            FROM orders
        |            WHERE NOT (o_orderkey % 97 = 0 AND
        |                       ascii(o_orderstatus) IN (70, 79))),
        |live AS (SELECT * FROM st
        |         WHERE NOT (scode = 70 AND k % 5 = 0))
        |SELECT phase, rcode, n, ap_micros, n_scan FROM (
        |  SELECT 'global' AS phase, CAST(-1 AS INT) AS rcode,
        |         count(*) AS n,
        |         CAST((2 * CAST(sum(p) * 1000000 AS HUGEINT) + count(*))
        |              // (2 * count(*)) AS BIGINT) AS ap_micros,
        |         CAST(1 AS BIGINT) AS n_scan
        |  FROM live
        |  UNION ALL
        |  SELECT 'group', rcode, count(*),
        |         CAST((2 * CAST(sum(p) * 1000000 AS HUGEINT) + count(*))
        |              // (2 * count(*)) AS BIGINT),
        |         CAST(1 AS BIGINT)
        |  FROM live GROUP BY rcode
        |  UNION ALL
        |  SELECT 'window', CAST(-1 AS INT), count(*),
        |         CAST((2 * CAST(sum(p) * 1000000 AS HUGEINT) + count(*))
        |              // (2 * count(*)) AS BIGINT),
        |         CAST(0 AS BIGINT)
        |  FROM live WHERE scode >= 79)
        |ORDER BY phase, rcode
        |""".stripMargin,

    // the conf-gated rewrite's truth: the same q178 certificates plus
    // the plan witness (LocalRelation served) and the exact metadata
    // count equality — all deterministic constants the oracle pins
    "q182_approx_rewrite" ->
      """SELECT count(*) AS n,
        |       count(DISTINCT o_orderkey) AS nd_key,
        |       count(DISTINCT ascii(o_orderstatus) - 5) AS nd_rcode,
        |       TRUE AS plan_local, TRUE AS n_exact,
        |       TRUE AS key_within_10pct, TRUE AS rcode_exact
        |FROM orders""".stripMargin,

    // the per-group sketches' truth: exact per-band distinct counts
    // from raw orders; the within-10% certificate is a deterministic
    // constant (the sketch is a pure function of the data) the oracle
    // pins without reproducing the registers
    "q181_stats_hll_group" ->
      """SELECT o_orderkey % 4 AS band, count(*) AS n,
        |       count(DISTINCT o_orderkey) AS nd_key,
        |       TRUE AS key_within_10pct,
        |       CAST(0 AS BIGINT) AS n_scan_est
        |FROM orders GROUP BY 1 ORDER BY band""".stripMargin,

    "q172_stats_dcount" ->
      """SELECT count(ascii(o_orderstatus)) AS n_key,
        |       count(DISTINCT ascii(o_orderstatus)) AS n_distinct,
        |       count(*) AS n_rows, CAST(1 AS BIGINT) AS n_scan
        |FROM orders""".stripMargin,

    // the SIP witness's truth: the 4 band files partition key2 by
    // floor(key2/250), each file's stamps are the band's exact
    // non-null extremes, and no Bloom sidecars exist — so the planned
    // file set is exactly the bands whose [mn,mx] intersect the dim
    // keys' envelope ([0,312] verbatim-list phase, [0,888] range
    // fallback), recomputable from raw data; the join answers are
    // plain equi-joins against the nation-derived key sets
    "q169_join_sip" ->
      """WITH st AS (SELECT o_orderkey % 1000 AS key2 FROM orders),
        |bands AS (SELECT CAST(FLOOR(key2 / 250) AS BIGINT) AS b,
        |                 min(key2) AS mn, max(key2) AS mx
        |          FROM st GROUP BY 1),
        |d1 AS (SELECT n_nationkey * 13 AS dk FROM nation),
        |d2 AS (SELECT n_nationkey * 37 AS dk FROM nation)
        |SELECT phase, n, sk, n_scan FROM (
        |  SELECT 'inlist' AS phase, count(*) AS n,
        |         COALESCE(CAST(sum(key2) AS BIGINT), 0) AS sk,
        |         (SELECT count(*) FROM bands
        |          WHERE mn <= 312 AND mx >= 0) AS n_scan
        |  FROM st JOIN d1 ON st.key2 = d1.dk
        |  UNION ALL
        |  SELECT 'range', count(*), COALESCE(CAST(sum(key2) AS BIGINT), 0),
        |         (SELECT count(*) FROM bands WHERE mn <= 888 AND mx >= 0)
        |  FROM st JOIN d2 ON st.key2 = d2.dk
        |  UNION ALL
        |  SELECT 'empty', 0, 0, 0)
        |ORDER BY phase
        |""".stripMargin,

    // the auto-rule's truth: the dim table holds exactly the 25
    // nation-derived keys 0,13,…,312, its single-file stamps are the
    // exact [0,312] envelope, no DVs — so the optimizer must inject
    // (sip pinned 1) and the rollup is the plain equi-join recomputed
    // from raw orders + nation
    "q170_join_sip_auto" ->
      """WITH st AS (SELECT o_orderkey % 1000 AS key2,
        |                   o_orderstatus AS status FROM orders),
        |d AS (SELECT n_nationkey * 13 AS dk FROM nation)
        |SELECT status, n, sk, sip FROM (
        |  SELECT status, count(*) AS n,
        |         CAST(sum(key2) AS BIGINT) AS sk, CAST(1 AS BIGINT) AS sip
        |  FROM st JOIN d ON st.key2 = d.dk GROUP BY status)
        |ORDER BY status
        |""".stripMargin,

    // the dynamic rule's truth: 5 nations survive n_name <
    // 'NATION_13' (keys {0,13,130,143,156} — the planning job's
    // verbatim list), and with no Bloom sidecars on the band table
    // IN-candidacy equals envelope candidacy, so the planned file set
    // is the bands whose [mn,mx] intersect the SURVIVORS' [0,156] —
    // one band, where the
    // static leaf envelope [0,312] needs two; the rollup is the plain
    // filtered equi-join recomputed from raw orders + nation
    // the candidacy-narrowed static envelope's truth: the b1 band
    // holds nations 7..13 (dk 91..169), its file-span is exactly that
    // range, one of the fact's four 250-wide bands intersects it, and
    // the join rollup is a plain equi-join against the band's keys;
    // `sip` = 1 is the plan witness the engine must earn
    "q185_join_sip_candidacy" ->
      """WITH st AS (SELECT o_orderkey % 1000 AS key2,
        |                   o_orderstatus AS status FROM orders),
        |d1 AS (SELECT n_nationkey * 13 AS dk FROM nation
        |       WHERE CAST(FLOOR(n_nationkey / 7) AS INT) = 1)
        |SELECT status, count(*) AS n, CAST(sum(key2) AS BIGINT) AS sk,
        |       CAST(1 AS BIGINT) AS sip, CAST(1 AS BIGINT) AS n_scan
        |FROM st JOIN d1 ON st.key2 = d1.dk
        |GROUP BY status ORDER BY status""".stripMargin,

    "q174_join_sip_dynamic" ->
      """WITH st AS (SELECT o_orderkey % 1000 AS key2,
        |                   o_orderstatus AS status FROM orders),
        |d AS (SELECT n_nationkey * 13 AS dk FROM nation
        |      WHERE n_name < 'NATION_13'),
        |bands AS (SELECT CAST(FLOOR(key2 / 250) AS BIGINT) AS b,
        |                 min(key2) AS mn, max(key2) AS mx
        |          FROM st GROUP BY 1)
        |SELECT status, n, sk, n_keys, n_scan FROM (
        |  SELECT status, count(*) AS n,
        |         CAST(sum(key2) AS BIGINT) AS sk,
        |         (SELECT count(*) FROM d) AS n_keys,
        |         (SELECT count(*) FROM bands
        |          WHERE mn <= (SELECT max(dk) FROM d)
        |            AND mx >= (SELECT min(dk) FROM d)) AS n_scan
        |  FROM st JOIN d ON st.key2 = d.dk GROUP BY status)
        |ORDER BY status
        |""".stripMargin,

    "q165_manifest_chain" ->
      """WITH st AS (
        |  SELECT o_orderstatus AS status,
        |         CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |         o_orderkey % 12 AS bucket
        |  FROM orders)
        |SELECT phase, status, n, total, CAST(10 AS BIGINT) AS n_delta
        |FROM (
        |  SELECT 'cur' AS phase, status, count(*) AS n,
        |         CAST(sum(price) AS DOUBLE) AS total
        |  FROM st GROUP BY status
        |  UNION ALL
        |  SELECT 'v07', status, count(*), CAST(sum(price) AS DOUBLE)
        |  FROM st WHERE bucket < 7 GROUP BY status)
        |ORDER BY phase, status
        |""".stripMargin,

    "q160_empty_version" ->
      """WITH st AS (
        |  SELECT o_orderkey AS k,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3)) AS price
        |  FROM orders)
        |SELECT 'v1' AS phase, count(*) AS n, CAST(sum(price) AS DOUBLE) AS total
        |FROM st WHERE k % 16 = 1
        |UNION ALL
        |SELECT 'v2_empty', 0, CAST(NULL AS DOUBLE)
        |UNION ALL
        |SELECT 'v3', count(*), CAST(sum(price) AS DOUBLE)
        |FROM st WHERE k % 16 = 2
        |ORDER BY phase
        |""".stripMargin,

    "q161_partition_evolution" ->
      """WITH st AS (
        |  SELECT CAST(o_custkey % 5 AS BIGINT) AS grp,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3)) AS price
        |  FROM orders)
        |SELECT grp, count(*) AS n, CAST(sum(price) AS DOUBLE) AS total
        |FROM st WHERE grp BETWEEN 1 AND 3
        |GROUP BY grp ORDER BY grp
        |""".stripMargin,

    "q162_vacuum_report" ->
      """SELECT 'dirs' AS metric, CAST(2 AS BIGINT) AS value
        |UNION ALL SELECT 'live_dirs', 1
        |UNION ALL SELECT 'post_vacuum_rows',
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 16 = 3)
        |UNION ALL SELECT 'reclaimable_dirs', 1
        |UNION ALL SELECT 'reclaimable_files', 4
        |ORDER BY metric
        |""".stripMargin,

    "q157_rename_drop" ->
      """WITH base AS (
        |  SELECT o_orderstatus AS status,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3)) AS amount
        |  FROM orders),
        |app AS (
        |  SELECT 'N' AS status,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3)) AS amount
        |  FROM orders WHERE o_orderkey % 20 = 7),
        |all_rows AS (SELECT * FROM base UNION ALL SELECT * FROM app)
        |SELECT status, count(*) AS n, CAST(sum(amount) AS DOUBLE) AS total
        |FROM all_rows GROUP BY status ORDER BY status
        |""".stripMargin,

    "q156_update_dv" ->
      """WITH st AS (
        |  SELECT o_orderstatus AS status, o_orderkey AS k,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3)) AS price
        |  FROM orders
        |  WHERE NOT (o_orderkey BETWEEN 200 AND 399 AND o_orderstatus = 'F')
        |    AND NOT (o_orderkey BETWEEN 300 AND 599 AND o_orderstatus = 'O')),
        |up AS (
        |  SELECT status,
        |         CASE WHEN k BETWEEN 600 AND 899 AND status = 'O'
        |              THEN 'U' ELSE 'K' END AS verdict,
        |         CASE WHEN k BETWEEN 600 AND 899 AND status = 'O'
        |              THEN CAST(price * CAST(1.1 AS DECIMAL(2,1)) AS DECIMAL(21,3))
        |              ELSE price END AS price
        |  FROM st)
        |SELECT status, verdict, count(*) AS n,
        |       CAST(sum(price) AS DOUBLE) AS total
        |FROM up GROUP BY status, verdict
        |ORDER BY status, verdict
        |""".stripMargin,

    "q138_clone_cow" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |         CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        |ch AS (
        |  SELECT CASE WHEN o_orderkey % 20 = 2 THEN o_orderkey + 1000000000
        |              ELSE o_orderkey END AS k,
        |         CASE o_orderkey % 20 WHEN 0 THEN 'U' WHEN 1 THEN 'D'
        |              ELSE 'I' END AS op,
        |         CASE WHEN o_orderkey % 20 = 0
        |                THEN CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(2,1))
        |              WHEN o_orderkey % 20 = 2
        |                THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3))
        |         END AS c_price,
        |         CASE WHEN o_orderkey % 20 = 2 THEN 'N' END AS c_status
        |  FROM orders WHERE o_orderkey % 20 IN (0, 1, 2)),
        |v2 AS (
        |  SELECT coalesce(c_status, status) AS status,
        |         coalesce(c_price, CAST(p AS DECIMAL(21,3))) AS price
        |  FROM base FULL JOIN ch ON base.k = ch.k
        |  WHERE coalesce(op, 'K') <> 'D')
        |SELECT 'clone' AS phase, status, count(*) AS n,
        |       CAST(sum(price) AS DOUBLE) AS total
        |FROM v2 GROUP BY status
        |UNION ALL
        |SELECT 'source', o_orderstatus, count(*),
        |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3))) AS DOUBLE)
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY phase, status
        |""".stripMargin,

    "q137_check_constraint" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |         CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        |ch AS (
        |  SELECT CASE WHEN o_orderkey % 20 = 2 THEN o_orderkey + 1000000000
        |              ELSE o_orderkey END AS k,
        |         CASE o_orderkey % 20 WHEN 0 THEN 'U' WHEN 1 THEN 'D'
        |              ELSE 'I' END AS op,
        |         CASE WHEN o_orderkey % 20 = 0
        |                THEN CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(2,1))
        |              WHEN o_orderkey % 20 = 2
        |                THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3))
        |         END AS c_price,
        |         CASE WHEN o_orderkey % 20 = 2 THEN 'N' END AS c_status
        |  FROM orders WHERE o_orderkey % 20 IN (0, 1, 2)),
        |v2 AS (
        |  SELECT coalesce(c_status, status) AS status,
        |         coalesce(c_price, CAST(p AS DECIMAL(21,3))) AS price
        |  FROM base FULL JOIN ch ON base.k = ch.k
        |  WHERE coalesce(op, 'K') <> 'D')
        |SELECT 'state' AS phase, status, count(*) AS n,
        |       CAST(sum(price) AS DOUBLE) AS total
        |FROM v2 GROUP BY status
        |UNION ALL
        |SELECT 'rejected', NULL,
        |       (SELECT count(*) FROM orders WHERE o_orderkey % 20 = 5),
        |       NULL
        |ORDER BY phase, status
        |""".stripMargin,

    "q140_schema_evolution" ->
      """WITH st AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3)) AS price
        |  FROM orders),
        |evo AS (
        |  SELECT status,
        |         CASE WHEN k BETWEEN 300 AND 499
        |              THEN (CASE WHEN k % 2 = 1 THEN 'web' ELSE 'app' END)
        |              ELSE 'none' END AS channel,
        |         price
        |  FROM st)
        |SELECT status, channel, count(*) AS n,
        |       CAST(sum(price) AS DOUBLE) AS total
        |FROM evo GROUP BY status, channel
        |ORDER BY status, channel
        |""".stripMargin,

    "q136_restore_version" ->
      """WITH st AS (
        |  SELECT o_orderstatus AS status, o_orderkey AS k,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3)) AS price
        |  FROM orders),
        |dml AS (
        |  SELECT status,
        |         CASE WHEN k BETWEEN 600 AND 899 AND status = 'O'
        |              THEN CAST(price * CAST(1.1 AS DECIMAL(2,1)) AS DECIMAL(21,3))
        |              ELSE price END AS price
        |  FROM st
        |  WHERE NOT (k BETWEEN 200 AND 399 AND status = 'F'))
        |SELECT 'pre' AS phase, status, count(*) AS n,
        |       CAST(sum(price) AS DOUBLE) AS total
        |FROM dml GROUP BY status
        |UNION ALL
        |SELECT 'post', status, count(*), CAST(sum(price) AS DOUBLE)
        |FROM st GROUP BY status
        |ORDER BY phase, status
        |""".stripMargin,

    "q135_update_cow" ->
      """WITH st AS (
        |  SELECT o_orderstatus AS status, o_orderkey AS k,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3)) AS price
        |  FROM orders
        |  WHERE NOT (o_orderkey BETWEEN 200 AND 399 AND o_orderstatus = 'F')),
        |up AS (
        |  SELECT status,
        |         CASE WHEN k BETWEEN 600 AND 899 AND status = 'O'
        |              THEN 'U' ELSE 'K' END AS verdict,
        |         CASE WHEN k BETWEEN 600 AND 899 AND status = 'O'
        |              THEN CAST(price * CAST(1.1 AS DECIMAL(2,1)) AS DECIMAL(21,3))
        |              ELSE price END AS price
        |  FROM st)
        |SELECT status, verdict, count(*) AS n,
        |       CAST(sum(price) AS DOUBLE) AS total
        |FROM up GROUP BY status, verdict
        |ORDER BY status, verdict
        |""".stripMargin,

    "q129_view_subscribe" -> viewOracle,

    "q128_change_feed" ->
      """WITH ch AS (
        |  SELECT o_orderkey AS k, o_custkey, o_orderstatus,
        |         CAST(o_totalprice AS DECIMAL(18,2)) AS p,
        |         o_orderkey % 20 AS m
        |  FROM orders WHERE o_orderkey % 20 IN (0, 1, 2))
        |SELECT k AS order_key, 'U' AS change_type, o_custkey AS cust_key,
        |       o_orderstatus AS status,
        |       CAST(p * CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE) AS price,
        |       'U' AS verdict
        |FROM ch WHERE m = 0
        |UNION ALL
        |SELECT k, 'D', o_custkey, o_orderstatus,
        |       CAST(CAST(p AS DECIMAL(21,3)) AS DOUBLE), 'K'
        |FROM ch WHERE m = 1
        |UNION ALL
        |SELECT k + 1000000000, 'I', o_custkey, 'N',
        |       CAST(CAST(p AS DECIMAL(21,3)) AS DOUBLE), 'I'
        |FROM ch WHERE m = 2
        |ORDER BY order_key
        |""".stripMargin,

    "q131_optimize_compact" ->
      """SELECT p.phase, o_orderstatus AS status, count(1) AS n,
        |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3))) AS DOUBLE) AS total
        |FROM orders
        |CROSS JOIN (SELECT 'pre' AS phase UNION ALL SELECT 'post') p
        |GROUP BY 1, 2
        |ORDER BY 1, 2
        |""".stripMargin,

    "q127_zorder_box" ->
      """SELECT o_orderkey, o_custkey,
        |       CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS dday,
        |       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |FROM orders
        |WHERE o_custkey BETWEEN 100 AND 1100
        |  AND date_diff('day', DATE '1992-01-01', o_orderdate) BETWEEN 1461 AND 1826
        |ORDER BY o_orderkey
        |""".stripMargin,

    "q130_zorder3_box" ->
      """SELECT o_orderkey, o_custkey,
        |       CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS dday,
        |       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c
        |FROM orders
        |WHERE o_custkey BETWEEN 100 AND 1100
        |  AND date_diff('day', DATE '1992-01-01', o_orderdate) BETWEEN 1461 AND 1826
        |  AND CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      BETWEEN 5000000 AND 20000000
        |ORDER BY o_orderkey
        |""".stripMargin,

    "q125_time_travel" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey, o_orderstatus,
        |         CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        |ch AS (
        |  SELECT CASE WHEN o_orderkey % 20 = 2 THEN o_orderkey + 1000000000
        |              ELSE o_orderkey END AS k,
        |         CASE o_orderkey % 20 WHEN 0 THEN 'U' WHEN 1 THEN 'D'
        |              ELSE 'I' END AS op,
        |         CASE WHEN o_orderkey % 20 = 0
        |                THEN CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(2,1))
        |              WHEN o_orderkey % 20 = 2
        |                THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3))
        |         END AS c_price
        |  FROM orders WHERE o_orderkey % 20 IN (0, 1, 2)),
        |v2 AS (
        |  SELECT coalesce(c_price, CAST(p AS DECIMAL(21,3))) AS price,
        |         coalesce(op, 'K') AS verdict
        |  FROM base FULL JOIN ch ON base.k = ch.k
        |  WHERE coalesce(op, 'K') <> 'D')
        |SELECT CAST(1 AS BIGINT) AS version, count(*) AS n,
        |  CAST(sum(CAST(p AS DECIMAL(21,3))) AS DOUBLE) AS total,
        |  CAST(0 AS BIGINT) AS n_upd, CAST(0 AS BIGINT) AS n_ins
        |FROM base
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), count(*),
        |  CAST(sum(price) AS DOUBLE),
        |  CAST(sum(CASE WHEN verdict = 'U' THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN verdict = 'I' THEN 1 ELSE 0 END) AS BIGINT)
        |FROM v2
        |ORDER BY version""".stripMargin,

    "q38_agg_incremental" ->
      // Full recompute over the post-MERGE state — the equivalence that
      // certifies the incremental path.
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS prio,
        |         CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        |ch AS (
        |  SELECT CASE WHEN o_orderkey % 20 = 2 THEN o_orderkey + 1000000000
        |              ELSE o_orderkey END AS k,
        |         o_orderpriority AS prio,
        |         CASE o_orderkey % 20 WHEN 0 THEN 'U' WHEN 1 THEN 'D'
        |              ELSE 'I' END AS op,
        |         CASE WHEN o_orderkey % 20 = 0
        |                THEN CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(2,1))
        |              WHEN o_orderkey % 20 = 2
        |                THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3))
        |         END AS c_price
        |  FROM orders WHERE o_orderkey % 20 IN (0, 1, 2)),
        |merged AS (
        |  SELECT coalesce(ch.prio, base.prio) AS prio,
        |         coalesce(c_price, CAST(p AS DECIMAL(21,3))) AS price
        |  FROM base FULL JOIN ch ON base.k = ch.k
        |  WHERE coalesce(op, 'K') <> 'D')
        |SELECT prio, count(*) AS n, CAST(sum(price) AS DOUBLE) AS total
        |FROM merged GROUP BY prio HAVING count(*) > 0
        |ORDER BY prio""".stripMargin,

    "q43_scd2_history" ->
      """WITH o AS (
        |  SELECT o_custkey AS cust, o_orderkey AS ok, o_orderdate AS dt,
        |         o_orderstatus AS st FROM orders),
        |r AS (
        |  SELECT *, CASE WHEN lag(st) OVER w IS NULL OR lag(st) OVER w <> st
        |                 THEN 1 ELSE 0 END AS chg
        |  FROM o WINDOW w AS (PARTITION BY cust ORDER BY dt, ok)),
        |v AS (
        |  SELECT *, CAST(sum(chg) OVER (PARTITION BY cust ORDER BY dt, ok
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version
        |  FROM r),
        |dim AS (
        |  SELECT cust, version, st, min(dt) AS vf, count(*) AS n_orders
        |  FROM v GROUP BY cust, version, st)
        |SELECT cust AS cust_key, version, st AS status,
        |  strftime(vf, '%Y-%m-%d') AS valid_from,
        |  strftime(lead(vf) OVER w2, '%Y-%m-%d') AS valid_to,
        |  CAST(lead(vf) OVER w2 IS NULL AS BIGINT) AS is_current,
        |  n_orders
        |FROM dim WINDOW w2 AS (PARTITION BY cust ORDER BY version)
        |ORDER BY cust_key, version""".stripMargin
  )
}
