package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixture loaders + shared helpers.
  *
  * The engine reads the driver-generated parquet star schema
  * (see /root/repo/TESTDATA.md). All loaders are plain parquet scans so
  * Catalyst column pruning / predicate pushdown reach the file source.
  */
object Tables {
  /** Footer schema per fixture path, memoized for the JVM's lifetime —
    * the StreamOps.schemaCache discipline applied to the BATCH loaders:
    * fixture tables are immutable per path, so the per-construction
    * parquet schema-inference (a listing + footer read, measured at
    * ~50-70 ms per `spark.read.parquet` call, times 1-3 tables per query
    * across 185 queries — ~8 s of the full-surface bench) is paid once
    * per path and the read proceeds with the SAME inferred schema via
    * `.schema(...)`. A StructType holds no session reference, so nothing
    * is pinned; synthetic probe corpora (ScaleProbe) write each dir once
    * and are immutable thereafter, same as the shipped fixtures. */
  private val footerSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val sch = footerSchemaCache.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)
    conform(spark.read.schema(sch).parquet(path), name)
  }

  /** The engine-facing schema CONTRACT for every fixture table: what each
    * column must look like after load, independent of the parquet writer's
    * physical choices. This generalizes the `events.ts` lesson (a round-10
    * fixture regeneration silently flipped its encoding and broke 12
    * queries): every load now either NORMALIZES a recognized-lossless
    * physical drift back to the canonical type, or FAILS naming the
    * drifted column and both types — never silently changes semantics.
    * Canonical types are exactly what the current fixtures arrive as
    * (µs-without-UTC-flag parquet timestamps read as TIMESTAMP_NTZ under
    * Spark's default inferTimestampNTZ), except `events.ts`, whose
    * canonical form is BIGINT epoch-nanos (see [[events]]). */
  private[graft] val contracts: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> Seq("event_id" -> LongType, "ts" -> LongType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  /** Enforce [[contracts]] on an arriving frame. Identity when the schema
    * already matches (the shipped fixtures — zero plan change); otherwise
    * per-column [[normalize]] or a contract error. Additive drift (extra
    * columns) passes through — it cannot change existing query semantics.
    * Stateless projection, so safe on streaming frames too. */
  def conform(df: DataFrame, table: String): DataFrame =
    contracts.get(table) match {
      case None => df
      case Some(cols) =>
        val arrived = df.schema.fields.map(f => f.name -> f.dataType).toMap
        val missing = cols.collect { case (n, _) if !arrived.contains(n) => n }
        if (missing.nonEmpty) throw new IllegalArgumentException(
          s"fixture schema drift: table '$table' is missing required column(s) " +
            s"${missing.mkString(", ")}; arrived: ${df.schema.simpleString}")
        cols.foldLeft(df) { case (d, (n, want)) =>
          if (arrived(n) == want) d
          else d.withColumn(n, normalize(table, n, arrived(n), want))
        }
    }

  /** The recognized-LOSSLESS physical drifts, arrival type -> canonical.
    * Timestamp re-encodings are value-exact because every graft session
    * pins spark.sql.session.timeZone=UTC (LTZ<->NTZ casts are then the
    * identity on the underlying micros) and ns->µs uses exact integer
    * `div` (epoch-nanos exceed double's 2^53 — see [[tsUs]]). Integer and
    * float WIDENINGS are value-preserving injections. Anything else —
    * narrowing, string retype, array element retype — has no safe
    * automatic interpretation and fails naming the column, so a fixture
    * regeneration costs one clear error instead of a silent wrong round. */
  private def normalize(table: String, n: String,
                        have: DataType, want: DataType): Column =
    (have, want) match {
      // event-time canonical BIGINT epoch-nanos (events.ts)
      case (TimestampType, LongType) =>
        unix_micros(col(n)) * lit(1000L)
      case (_: TimestampNTZType, LongType) =>
        unix_micros(col(n).cast(TimestampType)) * lit(1000L)
      // µs wall-clock canonical (o_orderdate / l_shipdate)
      case (TimestampType, _: TimestampNTZType) => col(n).cast(TimestampNTZType)
      case (LongType, _: TimestampNTZType) => // TIMESTAMP(NANOS) under nanosAsLong
        timestamp_micros(expr(s"`$n` div 1000")).cast(TimestampNTZType)
      case (DateType, _: TimestampNTZType) => col(n).cast(TimestampNTZType)
      // lossless numeric widenings
      case (ByteType | ShortType | IntegerType, LongType) => col(n).cast(LongType)
      case (ByteType | ShortType, IntegerType) => col(n).cast(IntegerType)
      case (FloatType, DoubleType) => col(n).cast(DoubleType)
      // containsNull RELAXATION (e.g. embeddings regenerated with
      // required elements): an array with no nulls is a valid instance
      // of the nullable contract type — identity projection, no cast.
      // The converse (required contract, nullable arrival) and any
      // element retype still fall through to the hard error.
      case (ArrayType(he, false), ArrayType(we, true)) if he == we => col(n)
      case _ => throw new IllegalArgumentException(
        s"fixture schema drift: $table.$n expected ${want.simpleString}, " +
          s"arrived ${have.simpleString} — no lossless normalization; if this " +
          "fixture change is intended, update Tables.contracts deliberately")
    }

  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def nation(s: SparkSession, d: String): DataFrame   = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = t(s, d, "region")
  def part(s: SparkSession, d: String): DataFrame     = t(s, d, "part")
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** events.parquet's `ts` column has shipped in TWO physical encodings
    * across fixture generations, and the engine reads both:
    *
    *  - INT64 TIMESTAMP(NANOS): Spark's parquet reader rejects it
    *    ([PARQUET_TYPE_ILLEGAL]) unless the session sets
    *    `spark.sql.legacy.parquet.nanosAsLong=true` — every session comes
    *    from `GraftSession.local`, which sets it, so `ts` arrives as a
    *    BIGINT of epoch nanoseconds. (Set in the factory, not here:
    *    mutating session conf inside a query closure is hidden global
    *    state.)
    *  - µs TIMESTAMP / TIMESTAMP_NTZ (the standard parquet encoding and
    *    what the current fixtures carry): normalized below to the same
    *    epoch-nanos BIGINT with exact integer arithmetic.
    *
    * Everything downstream (`tsUs`, `tsSec`, window/session/streaming
    * shapes) consumes ONE canonical type — BIGINT epoch-nanos — so a
    * fixture regeneration cannot change query semantics. The DuckDB
    * oracles are already encoding-agnostic (`epoch_us(ts)` works on both).
    */
  def events(s: SparkSession, d: String): DataFrame = t(s, d, "events")

  /** events.ts (epoch ns, BIGINT) -> TimestampType at µs precision.
    * Exact decimal division, NOT double: epoch-ns values (~1.7e18) exceed
    * double's 2^53 integer range, so a double path can be off by ±1 µs
    * after truncation. DuckDB mirror: CAST(ts AS TIMESTAMP) (ns -> µs
    * truncation). */
  def tsUs(c: Column): Column =
    timestamp_micros(c.cast(DecimalType(38, 0)).divide(lit(1000)).cast(LongType))

  /** events.ts (epoch ns, BIGINT) -> epoch seconds (floor), BIGINT. */
  def tsSec(c: Column): Column = floor(c.divide(lit(1000000000L))).cast(LongType)
}

/** Cross-engine-deterministic output helpers (SURVEY.md §7.5).
  *
  * Every oracled query's output goes through these so that the Spark result
  * and the DuckDB oracle hash identically:
  *  - money/quantity doubles are 2-dp-clean in the fixtures -> exact
  *    DECIMAL casts;
  *  - timestamps are rendered as fixed-width strings or epoch-second
  *    BIGINTs (never raw TimestampType in an oracled output);
  *  - derived integers are always BIGINT (DuckDB int functions return
  *    BIGINT, Spark's often return INT);
  *  - computed ratios/doubles are reduced to BIGINT micro-units via exact
  *    integer arithmetic (never `round(double)`, whose half-up tie behavior
  *    differs between engines).
  */
object Fns {
  /** 2-dp decimal cast for money columns (fixture doubles are 2-dp-clean). */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Oracle-safe output cast: DECIMAL -> DOUBLE at the FINAL projection only.
    * The driver's hash gate reads the Spark dump Decimal-preserving but the
    * DuckDB oracle float64-coerced, so any DecimalType output whose value has
    * a trailing zero ('73.00' vs '73.0') hash-mismatches despite equal
    * values (root-caused round 3; predicted all 33 round-2 verdicts).
    * Decimal->double is a single correctly-rounded IEEE conversion in both
    * engines, so values stay bit-identical. Keep decimal math INTERNAL for
    * exact, order-independent aggregation; emit doubles. DuckDB mirror:
    * CAST(... AS DOUBLE). */
  def od(c: Column): Column = c.cast(DoubleType)

  /** Whitespace token count WITHOUT the array: value-identical to
    * `size(split(c, " "))` for any string (segments = separators + 1, and
    * split("", " ") is [""] = 1), but pure length arithmetic — no
    * per-row substring-array allocation. At 100 TB the split form's
    * garbage pressure is real; use this wherever only the COUNT is needed
    * (when the tokens themselves flow on — explode, grams — split is the
    * right call). Oracles keep `len(string_split(...))`: same value. */
  def nTokens(c: Column): Column =
    (length(c) - length(translate(c, " ", "")) + 1).cast(LongType)

  /** Exact integer cents of a 2-dp-clean double (money/quantity). */
  def cents(c: Column): Column = dec2(c).multiply(lit(100)).cast(LongType)

  /** BIGINT cast — DuckDB scalar int functions return BIGINT, Spark INT. */
  def bi(c: Column): Column = c.cast(LongType)

  /** Date-only render of a timestamp column. DuckDB mirror: strftime(c,'%Y-%m-%d'). */
  def d(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** Full µs-precision render. DuckDB mirror: strftime(c,'%Y-%m-%d %H:%M:%S.%f'). */
  def ts6(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** yyyyMMdd render (the CMS date-as-TEXT convention kept by the reference,
    * /root/reference/dags/patient_claims_plus_postgres.py:80-81).
    * DuckDB mirror: strftime(c,'%Y%m%d'). */
  def ymd(c: Column): Column = date_format(c, "yyyyMMdd")

  /** sum of a 2-dp money column: exact decimal accumulation (engine-order-
    * independent), DOUBLE on output (see od). DuckDB mirror:
    * CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE). */
  def sum2(c: Column): Column = od(sum(dec2(c)))

  /** Average in exact integer micro-units: (sum_cents * 10000) div n, by
    * column NAME (Spark SQL `div` = integer division on BIGINTs; DuckDB
    * mirror `//`). Floor division of non-negative BIGINTs — no float or
    * decimal division anywhere, so the value is exact in both engines. */
  def avgMicro(sumCentsCol: String, nCol: String): Column =
    expr(s"CAST(($sumCentsCol * 10000L) DIV $nCol AS BIGINT)")
}

/** One block of the engine's query surface: the declared queries (the t2
  * correctness contract, SURVEY.md §2-C) plus the DuckDB oracle SQL for the
  * oracle-able subset. */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]
}
