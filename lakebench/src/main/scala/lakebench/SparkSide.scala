package lakebench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.nio.file.Path
import java.security.MessageDigest
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** The Spark side shared by `sql_lakehouse` and `llm_operators`: the
  * session (the confs `graft.Bench` runs with), a scheduler listener and
  * a query-execution listener for the `spark` and `engine` layers. */
final class SparkSide(conf: Conf) {
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[${conf.nproc}]")
    .appName("lakebench")
    .config("spark.sql.shuffle.partitions", conf.nproc.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "100000")
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.parquet.fieldId.write.enabled", "true")
    .config("spark.sql.parquet.fieldId.read.enabled", "true")
    .config("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
    .config("spark.local.dir", conf.work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", conf.work.resolve("spark-warehouse").toUri.toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskRunMs = new AtomicLong
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (t.taskMetrics != null) taskRunMs.addAndGet(t.taskMetrics.executorRunTime)
    }
  })

  /** (phase name -> ms, execution ms) of each successful query execution. */
  final case class Exec(phases: Map[String, Double], execMs: Double)
  val execs = new ConcurrentLinkedQueue[Exec]()
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      execs.add(Exec(qe.tracker.phases.map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs).toDouble },
        durationNs / 1e6))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  /** Waits until listener events of finished work have been delivered. */
  def drain(): Unit = org.apache.spark.LakebenchShim.drain(spark.sparkContext)
}

object SparkSide {
  /** Order-independent digest of a result: rows rendered canonically
    * (doubles to 9 significant digits), sorted, SHA-256. */
  def digest(df: DataFrame): String = {
    def cell(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN) "NaN" else f"$d%.9g"
      case f: Float => f"${f.toDouble}%.6g"
      case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
      case o => o.toString
    }
    val cols = df.columns.sorted
    val rows = df.select(cols.map(df.col).toIndexedSeq: _*).collect().map(r => r.toSeq.map(cell).mkString("|")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(cols.mkString(",").getBytes("UTF-8"))
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def write(df: DataFrame, dir: Path, name: String): String = {
    val p = dir.resolve(s"$name.parquet").toString
    df.write.mode("overwrite").parquet(p)
    p
  }
}

/** Seeded synthetic inputs in the shapes of the repository's test data.
  * Every value is a hash of (row id, seed, column), so the same seed gives
  * the same rows whatever the partitioning. */
object DataGen {
  private def h(seed: Long, col: Int): String = s"xxhash64(id, ${seed}L, $col)"
  private def pick(seed: Long, col: Int, xs: Seq[String]): String =
    s"element_at(array(${xs.map(x => s"'$x'").mkString(",")}), cast(pmod(${h(seed, col)}, ${xs.size}) as int) + 1)"
  private def days(seed: Long, col: Int, from: Long, span: Int): String =
    s"timestamp_seconds(${from}L + pmod(${h(seed, col)}, $span) * 86400)"
  private val Y1995 = 788918400L // 1995-01-01T00:00:00Z

  /** Lineitem rows for ids [from, until): four lines per order, key
    * (l_orderkey, l_linenumber) unique. */
  def lineitem(spark: SparkSession, seed: Long, from: Long, until: Long): DataFrame =
    spark.range(from, until).selectExpr(
      "id div 4 AS l_orderkey",
      s"pmod(${h(seed, 2)}, 2000) AS l_partkey",
      s"pmod(${h(seed, 3)}, 100) AS l_suppkey",
      "cast(pmod(id, 4) + 1 as int) AS l_linenumber",
      s"cast(pmod(${h(seed, 5)}, 50) + 1 as double) AS l_quantity",
      s"cast(round(900 + pmod(${h(seed, 6)}, 10400000) / 100.0, 2) as double) AS l_extendedprice",
      s"cast(pmod(${h(seed, 7)}, 11) / 100.0 as double) AS l_discount",
      s"cast(pmod(${h(seed, 8)}, 9) / 100.0 as double) AS l_tax",
      s"${pick(seed, 9, Seq("A", "N", "R"))} AS l_returnflag",
      s"${pick(seed, 10, Seq("F", "O"))} AS l_linestatus",
      s"${days(seed, 11, Y1995, 2500)} AS l_shipdate")

  def orders(spark: SparkSession, seed: Long, n: Long, customers: Long): DataFrame =
    spark.range(0, n).selectExpr(
      "id AS o_orderkey",
      s"pmod(${h(seed, 21)}, $customers) AS o_custkey",
      s"${pick(seed, 22, Seq("F", "O", "P"))} AS o_orderstatus",
      s"cast(round(1000 + pmod(${h(seed, 23)}, 50000000) / 100.0, 2) as double) AS o_totalprice",
      s"${days(seed, 24, Y1995, 2404)} AS o_orderdate",
      s"${pick(seed, 25, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))} AS o_orderpriority")

  def customer(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(0, n).selectExpr(
      "id AS c_custkey",
      "concat('Customer#', lpad(cast(id as string), 9, '0')) AS c_name",
      s"cast(pmod(${h(seed, 31)}, 25) as int) AS c_nationkey",
      s"cast(round(pmod(${h(seed, 32)}, 1100000) / 100.0 - 1000, 2) as double) AS c_acctbal",
      s"${pick(seed, 33, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))} AS c_mktsegment")

  private val Vocab = Seq("a", "the", "row", "column", "table", "key", "value", "part", "hash", "scan",
    "join", "merge", "sort", "agg", "group", "order", "line", "query", "filter", "window", "stream",
    "batch", "spark", "data", "vector", "fast", "slow", "big", "small", "customer", "index", "plan",
    "shard", "page", "cache", "commit", "snapshot", "manifest", "delete", "insert")

  /** Documents of 20..100 vocabulary words; every 7th document repeats an
    * earlier one with its last words changed, so dedup has work to do. */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val words = Vocab.map(w => s"'$w'").mkString(",")
    spark.range(0, n).selectExpr(
      "id AS doc_id",
      s"IF(pmod(id, 7) = 6 AND id > 6, id - 1 - pmod(${h(seed, 41)}, 5), id) AS base",
      s"cast(20 + pmod(${h(seed, 42)}, 81) as int) AS len")
      .selectExpr("doc_id", "len",
        s"transform(sequence(0, len - 1), i -> IF(doc_id <> base AND i >= len - 3, " +
          s"element_at(array($words), cast(pmod(xxhash64(doc_id, i, ${seed}L, 43), ${Vocab.size}) as int) + 1), " +
          s"element_at(array($words), cast(pmod(xxhash64(base, i, ${seed}L, 44), ${Vocab.size}) as int) + 1))) AS ws")
      .selectExpr(
        "doc_id",
        "array_join(ws, ' ') AS text",
        s"element_at(array('en','en','en','zh','es','de','fr'), cast(pmod(xxhash64(doc_id, ${seed}L, 45), 7) as int) + 1) AS lang",
        s"concat('src', cast(pmod(doc_id, 20) as string)) AS source",
        "cast(length(array_join(ws, ' ')) as bigint) AS n_chars")
  }

  /** 64-dimensional float vectors around 10 cluster centres. */
  def embeddings(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(0, n).selectExpr(
      "id AS vec_id",
      s"cast(pmod(xxhash64(id, ${seed}L, 51), 10) as int) AS label")
      .selectExpr("vec_id",
        s"transform(sequence(0, 63), d -> cast(sin(label * 7 + d) * 0.2 + " +
          s"(pmod(xxhash64(vec_id, d, ${seed}L, 52), 2001) - 1000) / 10000.0 as float)) AS embedding",
        "label")
}
