package lakebench

import graft.catalog.TableIdent
import graft.engine.{GraftMorScan, Manifests, RestCatalogClient}
import org.apache.spark.sql.execution.datasources.GraftFileIndex
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `sql_lakehouse`: one Spark session, `local[nproc]`, through
  * `GraftSparkCatalog` -> REST -> `JdbcCatalogStore`. A single client
  * runs a closed loop of statements; each iteration is INSERT of 1k new
  * rows, a merge-on-read DELETE of one key, a 50-key MERGE upsert, a
  * point SELECT, one TPC-H-shape aggregate (q01, q06, q03 in turn) and a
  * refresh of both materialized views. Every second iteration (2, 4, ...)
  * compacts lineitem, so its file count follows a sawtooth rather than
  * growing with run length.
  */
object SqlBench {
  /** Iteration i runs Aggs(i % 3), so the one iteration an untraced run
    * measures (i = 1) runs q06 and compacts nothing: its seven statements
    * then have the steady INSERT in the middle, where the MERGE or the
    * three-way join would move `op_ms_p50` from run to run. */
  val Aggs: Seq[(String, String)] = Seq(
    "q01" -> graft.queries.Relational.q01Sql,
    "q06" -> graft.queries.Relational.q06Sql,
    "q03" -> graft.queries.Relational.q03Sql)
  private val CompactEvery = 2
  private val Buckets = 4
  private val InsertRows = 1000L
  private val MergeKeys = 50

  final case class Sizes(lineitem: Long, orders: Long, customers: Long)

  /** One statement as run: kind, tag (the aggregate or view it runs), wall
    * ms and (traced half) its layer readings. */
  final case class Stmt(kind: String, tag: String, ms: Double, layer: Map[String, Double])

  /** The generated inputs of iteration `i`: the insert batch's row ids,
    * the deleted order key, the merge source and the selected key. */
  final case class Iteration(i: Int, insertFrom: Long, deleteKey: Long, merge: DataFrame, selectKey: Long)

  def run(conf: Conf): Outcome = {
    val sizes = if (conf.tiny) Sizes(4000, 1000, 100) else Sizes(20000, 5000, 500)
    val (side, sessionS) = Timer.secs(new SparkSide(conf))
    val spark = side.spark
    val trace = new Trace(conf.trace)
    val src = Files.createDirectories(conf.work.resolve("src"))
    val (_, genS) = Timer.secs {
      SparkSide.write(DataGen.lineitem(spark, conf.seed, 0, sizes.lineitem), src, "lineitem")
      SparkSide.write(DataGen.orders(spark, conf.seed, sizes.orders, sizes.customers), src, "orders")
      SparkSide.write(DataGen.customer(spark, conf.seed, sizes.customers), src, "customer")
    }
    val source = Seq("lineitem", "orders", "customer")
      .map(t => t -> spark.read.parquet(src.resolve(s"$t.parquet").toString)).toMap

    val reps = if (conf.tiny) 1 else 2
    var lake: Lake = null
    val buildTimes = (1 to reps).map { rep =>
      if (lake != null) lake.stop()
      val (l, s) = Timer.secs(new Lake(conf, spark, trace, rep, source))
      lake = l
      s
    }

    val rnd = new java.util.Random(conf.seed * 17 + 11)
    val initialOrders = sizes.lineitem / 4
    val deleteKeys = {
      val a = (0L until initialOrders).toArray
      for (i <- a.indices.reverse) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    def iteration(i: Int): Iteration = {
      val r = new java.util.Random(conf.seed * 1000003L + i)
      val existing = (0 until MergeKeys / 2).map(_ => (r.nextInt(initialOrders.toInt).toLong * 4) + r.nextInt(4))
      val fresh = (0 until MergeKeys / 2).map(k => (10000000L + i * 100L + k) * 4)
      val ids = (existing ++ fresh).distinct
      val merge = DataGen.lineitem(spark, conf.seed + 1 + i, 0, 1)
        .drop("l_orderkey", "l_linenumber").crossJoin(spark.createDataFrame(
          ids.map(id => (id / 4, (id % 4 + 1).toInt))).toDF("l_orderkey", "l_linenumber"))
        .select(source("lineitem").columns.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
      Iteration(i, 4L * (initialOrders + 1000000L + i * InsertRows), deleteKeys(i % deleteKeys.length),
        merge, r.nextInt(initialOrders.toInt).toLong)
    }

    val runner = new Runner(conf, side, trace, lake)
    var next = 0
    def loop(deadlineNs: Long, maxIters: Int): Seq[Stmt] = {
      val out = ArrayBuffer.empty[Stmt]
      var n = 0
      while (n < maxIters && System.nanoTime() < deadlineNs) {
        out ++= runner.iterate(iteration(next), warmup = false)
        next += 1; n += 1
      }
      out.toSeq
    }

    // Warm-up, untimed: one iteration's DML against the warm-up table, and
    // every aggregate. The views and compaction were exercised by the builds.
    trace.on = false
    val (_, warmS) = Timer.secs { runner.iterate(iteration(next), warmup = true); next += 1 }
    val setupS = sessionS + genS + Stats.median(buildTimes) + warmS

    val gc0 = Jvm.gcMs
    val (plain, plainS) = Timer.secs(loop(System.nanoTime() + (conf.seconds * (if (conf.trace) 0.5 else 1) * 1e9).toLong,
      Int.MaxValue))
    val gcPlain = Jvm.gcMs - gc0
    val layers = if (!conf.trace) Map.empty[String, Double] else {
      trace.clear(); trace.on = true
      val t = runner.tracedWindow(conf.seconds / 2, loop, plain)
      trace.on = false
      t
    }

    // Output checks: lineitem against a model built from the generated
    // batches with plain DataFrame operations over the source parquet;
    // each MV against its defining query run again.
    var model = source("lineitem")
    val keyCols = Seq("l_orderkey", "l_linenumber")
    (1 until next).foreach { i => // iteration 0 was the warm-up's
      val it = iteration(i)
      model = model.unionByName(DataGen.lineitem(spark, conf.seed, it.insertFrom, it.insertFrom + InsertRows))
        .filter(s"l_orderkey <> ${it.deleteKey}")
      model = model.join(it.merge.select(keyCols.map(org.apache.spark.sql.functions.col): _*), keyCols, "left_anti")
        .unionByName(it.merge)
    }
    val checksum = "count(*), sum(pmod(xxhash64(l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, " +
      "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate), 1000000007))"
    val got = spark.sql(s"SELECT $checksum FROM ${lake.cat}.db.lineitem").head()
    val want = model.selectExpr(checksum.split(", (?=sum)").toIndexedSeq: _*).head()
    val wantCount = want.getLong(0) + (if (conf.corrupt) 1 else 0)
    val tableOk = got.getLong(0) == wantCount && got.getLong(1) == want.getLong(1)
    val mvChecks = Lake.Mvs.map { case (mv, q) =>
      // the views hold a handful of groups: compare them as row multisets
      def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
      val same = rows(spark.sql(s"SELECT * FROM ${lake.cat}.db.$mv")) == rows(spark.sql(q(lake.cat)))
      (s"mv $mv", same, if (same) "equals its defining query" else "differs from its defining query")
    }
    val checks = Seq(("lineitem", tableOk,
      s"catalog count=${got.getLong(0)} sum=${got.getLong(1)}; model count=$wantCount sum=${want.getLong(1)}")) ++ mvChecks

    val named = Seq.newBuilder[Named]
    named += Named("setup_s", setupS, "s", reps)
    named += Named("ops_per_s", plain.size / plainS, "1/s", plain.size)
    named += Named("failed_ratio", 0.0, "ratio", plain.size)
    Main.SqlStmts.foreach { k =>
      val xs = plain.filter(_.kind == k).map(_.ms)
      named += Named(s"${k}_ms_p50", Stats.median(xs), "ms", xs.size, Some(50))
    }

    val detail = Json.obj()
    detail.put("lineitem_rows", sizes.lineitem)
    detail.put("iterations", next)
    detail.put("session_s", sessionS)
    detail.put("datagen_s", genS)
    val br = detail.putArray("build_reps_s"); buildTimes.foreach(br.add)
    detail.put("warmup_s", warmS)
    detail.put("gc_ms_untraced", gcPlain)
    val st = detail.putArray("statements")
    plain.foreach(s => st.addObject().put("kind", s.kind).put("tag", s.tag).put("ms", s.ms))
    if (conf.trace) {
      val ts = detail.putArray("traced_statements")
      runner.traced.foreach { s =>
        val o = ts.addObject().put("kind", s.kind).put("tag", s.tag).put("ms", s.ms)
        s.layer.foreach { case (k, v) => o.put(k, v) }
      }
      detail.set("spans", trace.toJson())
    }
    lake.stop()
    Outcome(setupS, plain.size / plainS, plain.map(_.ms), plain.size.toLong, 0L, named.result(),
      layers, checks, detail)
  }

  /** A fresh catalog (Derby store, warehouse, server) registered in the
    * session under its own name, with lineitem (bucketed, merge-on-read
    * deletes), orders and customer loaded, and the two views created. */
  final class Lake(conf: Conf, spark: SparkSession, trace: Trace, rep: Int, source: Map[String, DataFrame]) {
    val handle = new CatalogHandle(Files.createDirectories(conf.work.resolve(s"lake$rep")), trace)
    /** Spark caches catalog plugins by name: every build gets a new one. */
    val cat = s"lake$rep"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.engine.GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.uri", handle.server.baseUri)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", "wh")
    spark.sql(s"CREATE NAMESPACE $cat.db")
    source.foreach { case (t, df) =>
      val cols = df.schema.fields.map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
      val layout = if (t == "lineitem")
        s" PARTITIONED BY (bucket($Buckets, l_orderkey)) TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')"
      else ""
      spark.sql(s"CREATE TABLE $cat.db.$t ($cols)$layout")
      df.createOrReplaceTempView(s"lakebench_src_$t")
      spark.sql(s"INSERT INTO $cat.db.$t SELECT * FROM lakebench_src_$t")
      if (t == "lineitem") {
        // the warm-up's DML target: lineitem's layout, no views over it, so
        // the first measured view refresh folds only the measured changes
        spark.sql(s"CREATE TABLE $cat.db.${Lake.WarmTable} ($cols)$layout")
        spark.sql(s"INSERT INTO $cat.db.${Lake.WarmTable} SELECT * FROM lakebench_src_$t LIMIT $InsertRows")
      }
      spark.catalog.dropTempView(s"lakebench_src_$t")
    }
    Lake.Mvs.foreach { case (mv, q) => spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.$mv AS ${q(cat)}") }
    spark.sql(s"USE $cat.db")

    val rest = new RestCatalogClient(handle.server.baseUri)
    def metadata(t: String): graft.core.TableMetadata =
      rest.loadTable(handle.prefix, TableIdent(Seq("db"), t)).metadata

    def stop(): Unit = handle.stop()
  }

  object Lake {
    val WarmTable = "lineitem_warm"
    /** The two views: a count/sum fold over lineitem, and a lineitem-orders
      * join that refreshes by rebuild. */
    val Mvs: Seq[(String, String => String)] = Seq(
      "mv_fold" -> (c => s"SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_linenumber) AS s " +
        s"FROM $c.db.lineitem GROUP BY l_returnflag, l_linestatus"),
      "mv_join" -> (c => s"SELECT o.o_orderpriority AS prio, count(*) AS n " +
        s"FROM $c.db.lineitem l JOIN $c.db.orders o ON l.l_orderkey = o.o_orderkey AND o.o_orderkey >= 0 " +
        s"GROUP BY o.o_orderpriority"))
  }

  /** Runs iterations; in the traced half also takes each layer's readings. */
  final class Runner(conf: Conf, side: SparkSide, trace: Trace, lake: Lake) {
    private val spark = side.spark
    private val cat = lake.cat
    val traced = ArrayBuffer.empty[Stmt]
    private val metaReads = ArrayBuffer.empty[(Double, Int, Int)]
    private val planned = ArrayBuffer.empty[Double]
    private val rowsPerTick = ArrayBuffer.empty[Double]
    private val compactions = ArrayBuffer.empty[(Double, Long)]

    private def stmt(kind: String, sql: String, collect: Boolean = false, tag: String = ""): Stmt = {
      if (!trace.on) {
        val t0 = System.nanoTime()
        val df = spark.sql(sql)
        if (collect) df.collect()
        return Stmt(kind, tag, (System.nanoTime() - t0) / 1e6, Map.empty)
      }
      side.drain(); side.execs.clear()
      val req0 = trace.counter("server.requests")
      val com0 = trace.counter("server.table_op.commit")
      val (j0, k0) = (side.jobs.get, side.tasks.get)
      val t0 = System.nanoTime()
      var df: DataFrame = null
      trace.ambient(s"sql.$kind", tag) {
        df = spark.sql(sql)
        if (collect) df.collect()
      }
      val ms = (System.nanoTime() - t0) / 1e6
      side.drain()
      val analysis = df.queryExecution.tracker.phases.get("analysis")
        .map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
      val outer = Option(side.execs.toArray(Array.empty[side.Exec])).filter(_.nonEmpty).map(_.maxBy(_.execMs))
      val planning = outer.map(e => e.phases.getOrElse("optimization", 0.0) + e.phases.getOrElse("planning", 0.0))
        .getOrElse(0.0)
      val exec = outer.map(_.execMs).getOrElse(math.max(0.0, ms - analysis - planning))
      val s = Stmt(kind, tag, ms, Map(
        "rest_calls" -> (trace.counter("server.requests") - req0).toDouble,
        "commit_attempts" -> (trace.counter("server.table_op.commit") - com0).toDouble,
        "analysis_ms" -> analysis, "planning_ms" -> planning, "exec_ms" -> exec,
        "jobs" -> (side.jobs.get - j0).toDouble, "tasks" -> (side.tasks.get - k0).toDouble))
      traced += s
      s
    }

    /** One iteration; the warm-up one writes to the warm-up table, runs
      * every aggregate, and neither refreshes the views nor compacts. */
    def iterate(it: Iteration, warmup: Boolean): Seq[Stmt] = {
      val out = ArrayBuffer.empty[Stmt]
      val t = if (warmup) Lake.WarmTable else "lineitem"
      DataGen.lineitem(spark, conf.seed, it.insertFrom, it.insertFrom + InsertRows)
        .createOrReplaceTempView("lakebench_insert")
      out += stmt("insert", s"INSERT INTO $cat.db.$t SELECT * FROM lakebench_insert")
      out += stmt("delete", s"DELETE FROM $cat.db.$t WHERE l_orderkey = ${it.deleteKey}")
      it.merge.createOrReplaceTempView("lakebench_merge")
      out += stmt("merge", s"MERGE INTO $cat.db.$t t USING lakebench_merge s " +
        "ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      if (trace.on) { GraftFileIndex.lastPlanned = None; GraftMorScan.lastPlannedFiles = None }
      out += stmt("select", s"SELECT * FROM $cat.db.$t WHERE l_orderkey = ${it.selectKey}", collect = true)
      if (trace.on) readPlanned()
      (if (warmup) Aggs else Seq(Aggs(it.i % Aggs.size))).foreach { case (name, q) =>
        out += stmt("agg", q, collect = true, tag = name)
      }
      if (!warmup) Lake.Mvs.foreach { case (mv, _) =>
        out += stmt("mv_refresh", s"CALL $cat.system.refresh_materialized_view(table => 'db.$mv')", tag = mv)
        if (trace.on) rowsPerTick += lake.metadata(mv).currentSnapshot
          .flatMap(_.summary.get("added-records")).map(_.toDouble).getOrElse(0.0)
      }
      if (!warmup && it.i % CompactEvery == 0) out += compactNow()
      if (trace.on) readManifest()
      out.toSeq
    }

    private def compactNow(): Stmt = {
      val before = if (trace.on) liveBytes() else Set.empty[(String, Long)]
      val s = stmt("compact", s"CALL $cat.system.rewrite_data_files(table => 'db.lineitem', " +
        s"target_file_count => $Buckets)")
      if (trace.on) compactions += ((s.ms, (liveBytes() -- before).toSeq.map(_._2).sum))
      s
    }

    private def liveBytes(): Set[(String, Long)] =
      lake.metadata("lineitem").currentSnapshot.map(s => Manifests.read(s.manifestList))
        .getOrElse(Nil).map(f => f.path -> f.sizeBytes).toSet

    private def readManifest(): Unit = {
      val snap = lake.metadata("lineitem").currentSnapshot.get
      val t0 = System.nanoTime()
      val files = Manifests.read(snap.manifestList)
      metaReads += (((System.nanoTime() - t0) / 1e6, files.count(!_.isDeleteFile), files.count(_.isDeleteFile)))
    }

    private def readPlanned(): Unit =
      GraftFileIndex.lastPlanned.map(p => p.kept.toDouble / math.max(1, p.total))
        .orElse(GraftMorScan.lastPlannedFiles.map { kept =>
          val live = lake.metadata("lineitem").currentSnapshot.map(s => Manifests.read(s.manifestList))
            .getOrElse(Nil).count(!_.isDeleteFile)
          kept.toDouble / math.max(1, live)
        }).foreach(planned += _)

    private def manifestBytes(): Long = {
      val loc = lake.metadata("lineitem").location
      val dir = Paths.get(java.net.URI.create(loc)).resolve("metadata")
      if (!Files.exists(dir)) 0L
      else {
        val s = Files.list(dir)
        try {
          s.iterator().asScala.filterNot(_.toString.endsWith(".metadata.json")).map(Files.size).sum
        } finally s.close()
      }
    }

    /** The traced half: iterations with every layer reading, then the
      * catalog tax (same aggregates over bare parquet) and, if the window
      * had none, one compaction. `plain` is the untraced half, for the
      * tracing overhead. */
    def tracedWindow(seconds: Double, loop: (Long, Int) => Seq[Stmt], plain: Seq[Stmt]): Map[String, Double] = {
      val gc0 = Jvm.gcMs
      val del0 = GraftMorScan.deleteCacheLoads
      val (mb0, snaps0) = (manifestBytes(), lake.metadata("lineitem").snapshots.size)
      val run0 = side.taskRunMs.get
      val bytes0 = lake.handle.bytesOnDisk
      val (stmts, wallS) = Timer.secs(loop(System.nanoTime() + (seconds * 1e9).toLong, Int.MaxValue))
      val busy = (side.taskRunMs.get - run0) / (wallS * 1000 * conf.nproc)
      val gc = Jvm.gcMs - gc0
      val bytesPerCommit = (lake.handle.bytesOnDisk - bytes0).toDouble /
        math.max(1, trace.counter("server.table_op.commit"))
      val (mb1, snaps1) = (manifestBytes(), lake.metadata("lineitem").snapshots.size)
      val store = LayerProbe.storeAndCore(lake.handle, trace,
        (Seq("lineitem", "orders", "customer") ++ Lake.Mvs.map(_._1)).map(lake.metadata), wallS, 1)
      val delLoads = GraftMorScan.deleteCacheLoads - del0
      // tracing overhead over the statements both halves ran: the halves
      // are different iterations, and only the traced one runs q03 and a
      // compaction, so whole-window rates would compare statement mixes
      val both = plain.map(s => (s.kind, s.tag)).toSet intersect stmts.map(s => (s.kind, s.tag)).toSet
      def rate(xs: Seq[Stmt]) = {
        val c = xs.filter(s => both((s.kind, s.tag))); c.size / (c.map(_.ms).sum / 1e3)
      }
      val jobsPer = stmts.map(_.layer.getOrElse("jobs", 0.0)).sum / math.max(1, stmts.size)
      val tasksPer = stmts.map(_.layer.getOrElse("tasks", 0.0)).sum / math.max(1, stmts.size)
      if (compactions.isEmpty) compactNow()

      // catalog tax: the same aggregate SQL over the catalog tables and
      // over the source parquet, three runs each, medians summed
      def timeAggs(): Double = Aggs.map { case (_, q) =>
        Stats.median((1 to 3).map { _ =>
          val t0 = System.nanoTime(); spark.sql(q).collect(); (System.nanoTime() - t0) / 1e6 })
      }.sum
      val overCatalog = timeAggs()
      val srcDir = conf.work.resolve("src")
      Seq("lineitem", "orders", "customer").foreach(t =>
        spark.read.parquet(srcDir.resolve(s"$t.parquet").toString).createOrReplaceTempView(t))
      val overParquet = timeAggs()
      Seq("lineitem", "orders", "customer").foreach(spark.catalog.dropTempView)

      val by = traced.groupBy(_.kind)
      def med(kind: String, key: String) = Stats.median(by.getOrElse(kind, Nil).toSeq.map(_.layer(key)))
      def mean(kind: String, key: String) = {
        val xs = by.getOrElse(kind, Nil).toSeq.map(_.layer(key)); if (xs.isEmpty) 0.0 else xs.sum / xs.size
      }
      val perStmt = Main.SqlStmts.flatMap { k => Seq(
        s"engine.rest_calls_per_stmt.$k" -> mean(k, "rest_calls"),
        s"engine.commit_attempts_per_stmt.$k" -> mean(k, "commit_attempts"),
        s"sql.analysis_ms_p50.$k" -> med(k, "analysis_ms"),
        s"sql.planning_ms_p50.$k" -> med(k, "planning_ms"),
        s"sql.exec_ms_p50.$k" -> med(k, "exec_ms"))
      }
      val refreshBy = trace.all.filter(_.name == "sql.mv_refresh").groupBy(_.key)
      store ++ perStmt.toMap ++ Map(
        "trace.overhead_ratio" -> rate(stmts) / rate(plain),
        "meta.manifest_read_ms_p50" -> Stats.median(metaReads.map(_._1).toSeq),
        "meta.files_live" -> Stats.median(metaReads.map(_._2.toDouble).toSeq),
        "meta.delete_files_live" -> Stats.median(metaReads.map(_._3.toDouble).toSeq),
        "meta.manifest_bytes_per_commit" -> (mb1 - mb0).toDouble / math.max(1, snaps1 - snaps0),
        "scan.files_planned_ratio" -> Stats.median(planned.toSeq),
        "scan.catalog_tax_ratio" -> overCatalog / overParquet,
        "mor.delete_cache_loads" -> delLoads.toDouble,
        "mv.refresh_exec_ms_p50.fold" -> Stats.median(refreshBy.getOrElse("mv_fold", Nil).map(_.ms)),
        "mv.refresh_exec_ms_p50.join" -> Stats.median(refreshBy.getOrElse("mv_join", Nil).map(_.ms)),
        "mv.rows_written_per_tick" -> (if (rowsPerTick.isEmpty) 0.0 else rowsPerTick.sum / rowsPerTick.size),
        "maint.compact_ms" -> Stats.median(compactions.map(_._1).toSeq),
        "maint.bytes_rewritten" -> Stats.median(compactions.map(_._2.toDouble).toSeq),
        "spark.jobs_per_stmt" -> jobsPer,
        "spark.tasks_per_stmt" -> tasksPer,
        "spark.task_busy_ratio" -> busy,
        "server.requests_per_op" -> stmts.map(_.layer.getOrElse("rest_calls", 0.0)).sum / math.max(1, stmts.size),
        "catalog.bytes_written_per_commit" -> bytesPerCommit,
        "jvm.gc_ms_per_s" -> gc / wallS,
        "jvm.heap_mb_after_run" -> Jvm.heapMbAfterGc)
    }
  }
}
