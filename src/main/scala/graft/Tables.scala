package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Shared helpers for loading the driver testdata and for writing
  * oracle-deterministic aggregates.
  *
  * Determinism contract with the DuckDB oracle: floating-point SUM/AVG is
  * order-dependent, and Spark and DuckDB will visit rows in different
  * orders. Every monetary/quantity aggregate therefore goes through an
  * exact DECIMAL cast (sums of decimals are associative), and only the
  * final result is cast back to DOUBLE. AVG is expressed as
  * decimal-sum / count so both engines perform the identical single
  * double division.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Ceiling on total file bytes eligible for fan-out: inputs larger
    * than this plan enough byte-splits on their own (and repartitioning
    * them would shuffle real volume for nothing). */
  private val FanoutMaxBytes = 256L << 20

  /** Unique-key column per table, for hash fan-out: keyless
    * round-robin `repartition(n)` pays a local determinism SORT of the
    * full rows (spark.sql.execution.sortBeforeRepartition — expensive
    * over text/array payloads); hashing a unique id spreads just as
    * evenly with no sort. */
  private def fanoutKey(name: String): Option[String] = name match {
    case "documents" => Some("doc_id")
    case "embeddings" => Some("vec_id")
    case _ => None
  }

  private def fanout(spark: SparkSession, df: DataFrame, path: String,
      key: Option[String]): DataFrame = {
    val size =
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength
      } catch { case _: Exception => return df }
    val (maxSplitBytes, _) = org.apache.spark.sql.GraftShims.fileSplitConf(spark)
    val cores = spark.sparkContext.defaultParallelism
    val plannedSplits = math.max(1L, (size + maxSplitBytes - 1) / maxSplitBytes)
    if (plannedSplits < cores && size < FanoutMaxBytes) key match {
      case Some(k) => df.repartition(cores, org.apache.spark.sql.functions.col(k))
      case None => df.repartition(cores)
    }
    else df
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    loadRaw(spark, dir, name)

  /** [[load]] plus a size-gated scan fan-out: when the file's
    * byte-planned split count would leave most cores idle, the loaded
    * table is hash-repartitioned to the session's default parallelism
    * (the "one huge unsplittable file" remedy — the testdata ships ONE
    * parquet row group per table). Used ONLY by the
    * BPE family (r20). Fan-out on every load was measured and REJECTED
    * in r19 (same-JVM interleaved A/B over 12 queries at sf0.1/32
    * cores: it LOST on 10 of 12, e.g. q_lm_trigram_backoff 2.65 →
    * 3.84 s, q_token_rarity 1.10 → 1.45 s), and a broad "fan out every
    * compute-dense leaf derivation" was REJECTED the same way (same-JVM
    * interleaved A/B over 12 leaf-heavy queries at sf0.1/32 cores:
    * fanout LOST on 10 — e.g. q_lm_trigram_backoff 2.59 → 3.05 s,
    * q_emb_kmeans 1.09 → 1.77 — because each pipeline's first keyed
    * exchange already spreads the heavy reduce work and the extra
    * round-robin exchange + AQE stage round costs more than the serial
    * scan it fixes). The BPE merge loop is the one family with NO
    * early keyed exchange doing that job: each round's pair count is a
    * corpus-wide explode + partial aggregate running ON the leaf's own
    * partitioning, so a single-split scan serializes every round.
    * Measured (same A/B): q_bpe_merges 1.84 → 1.32, q_bpe_encode
    * 1.90 → 1.37, q_bpe_fertility 1.70 → 1.35 s median. The size gate
    * keeps it a degenerate-input remedy (guide §2.5): inputs that plan
    * ≥ cores splits, or over [[FanoutMaxBytes]], pass through
    * untouched, so at deployment scale this never ships corpus-scale
    * bytes through an extra exchange. */
  def loadWide(spark: SparkSession, dir: String, name: String): DataFrame =
    fanout(spark, loadRaw(spark, dir, name), s"$dir/$name.parquet",
      fanoutKey(name))

  /** Parquet SCHEMA memo per file path (r20) — metadata only, never
    * data or results: without it every `load` call re-runs driver-side
    * schema inference (footer open + decode) for a schema that cannot
    * change mid-session, and at 118 queries × reps the re-reads are a
    * measurable slice of the per-query fixed floor. This is exactly
    * what a catalog-backed table provides (the reference server hands
    * Spark the Iceberg schema; DuckDB reads the footer once) — the
    * scan itself still plans, lists, and reads the parquet data on
    * every invocation. Keyed by (session identity, absolute path): the
    * memo is scoped to the live session — nothing carries across
    * bench/verify invocations — and distinct SF dirs never collide. A file REPLACED
    * in-session with a different schema is out of contract for these
    * immutable testdata tables (a long-lived service over mutating
    * tables should go through a real catalog, not bare-path loads). */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), org.apache.spark.sql.types.StructType]()

  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val key = (System.identityHashCode(spark).toString, path)
    val cached = schemaCache.get(key)
    if (cached != null) spark.read.schema(cached).parquet(path)
    else {
      val df = spark.read.parquet(path)
      schemaCache.put(key, df.schema)
      df
    }
  }

  private def loadRaw(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts has varied across driver testdata generations:
      // TIMESTAMP(NANOS) in some rounds (which Spark only reads with
      // spark.sql.legacy.parquet.nanosAsLong=true, as raw int64 nanos
      // we truncate to micros — integer div, the value exceeds 2^53 so
      // double math would lose precision; DuckDB truncates ns→µs the
      // same way), plain TIMESTAMP(MICROS) in others. Adapt to the
      // schema actually on disk and normalize to a session-TZ (UTC)
      // TIMESTAMP either way so downstream micros arithmetic
      // (unix_micros) is engine-identical.
      if (spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true") {
        System.err.println(
          "[graft] session built without spark.sql.legacy.parquet.nanosAsLong=true; " +
            "setting it now (required when events.parquet carries TIMESTAMP(NANOS))")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      }
      // the NTZ branch below (and every downstream date_trunc/hour
      // bucketing over events) binds wall clocks to the SESSION zone;
      // the oracle contract requires UTC. Mutating the hosting
      // session's timeZone here would silently change timestamp
      // semantics of UNRELATED queries in an embedding application, so
      // a non-UTC session is refused loudly instead — the embedder
      // decides (set timeZone=UTC, or load events with a dedicated
      // session) rather than having shared state rewritten under them.
      val tz = spark.conf.get("spark.sql.session.timeZone", "")
      // accept any zone whose rules ARE UTC ("UTC", "Etc/UTC", "GMT",
      // "+00:00", "Z") — the contract is wall-clock semantics, not a
      // string spelling
      val zoneIsUtc =
        try java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC
        catch { case _: Exception => false }
      if (!zoneIsUtc) throw new IllegalStateException(
        s"graft events queries require spark.sql.session.timeZone=UTC " +
          s"(session has '$tz'): events.ts normalization and the DuckDB " +
          "oracle bind wall clocks to UTC. Set the conf on the session " +
          "(or use a dedicated session for events) — graft will not " +
          "mutate a shared session's timezone as a side effect.")
      val raw = readParquet(spark, s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => // nanos-as-long
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case _ => // TIMESTAMP / TIMESTAMP_NTZ: micros already; NTZ wall
          // clock binds to the UTC session zone, matching DuckDB
          raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      }
    } else readParquet(spark, s"$dir/$name.parquet")
  }

  /** Exact decimal view of a double column (testdata doubles carry <=2dp). */
  def dec(c: Column, precision: Int = 18, scale: Int = 2): Column =
    c.cast(DecimalType(precision, scale))

  /** Order-independent SUM over a double column, returned as DOUBLE. */
  def dsum(c: Column): Column = sum(dec(c)).cast(DoubleType)

  /** Deterministic AVG: exact decimal sum, one double division. */
  def davg(c: Column): Column = (sum(dec(c)).cast(DoubleType) / count(c)).cast(DoubleType)

  /** Timestamp literal in the UTC session zone. */
  def ts(s: String): Column = to_timestamp(lit(s))
}
