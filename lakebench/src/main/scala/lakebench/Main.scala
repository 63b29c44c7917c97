package lakebench

import java.nio.file.{Files, Paths}

/** Entry point of the benchmark of record.
  *
  * {{{
  * lakebench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --out <dir> --expected <file>
  *                [--nproc <n>] [--tiny 1] [--corrupt 1]
  * }}}
  *
  * Prints one summary line (`LAKEBENCH {...}`, under 2000 characters, with
  * the workload's named end-to-end figures and the run's environment),
  * then, as the last line, the result object: the end-to-end metrics with
  * `--trace 0`, the per-layer metrics with `--trace 1`. Per-layer detail,
  * the per-statement detail and the spans go to `<out>/<workload>-seed<n>-trace<t>.json`.
  */
object Main {
  val Workloads: Seq[String] = Seq("catalog_read", "catalog_commit", "sql_lakehouse", "llm_operators")

  /** End-to-end metrics every workload reports, with their units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s", "op_ms_p50" -> "ms")

  val SqlStmts: Seq[String] = Seq("insert", "delete", "merge", "select", "agg", "mv_refresh")
  val LlmQueries: Seq[String] = Seq(
    "q_dedup_clusters", "q_dedup_ngram_jaccard", "q_ann_ivfadc_residual_topk", "q_bm25_topk")

  /** Per-layer metrics of a traced run, with their units. A metric the
    * workload gives no sample for reports 0, marked `"measured": false`
    * in the detail file. */
  val PerLayer: Seq[(String, String)] = Seq(
    "server.rtt_ms_p50" -> "ms",
    "server.self_ms_p50.load" -> "ms", "server.self_ms_p50.commit" -> "ms", "server.self_ms_p50.txn" -> "ms",
    "server.response_kb_p50" -> "KiB", "server.requests_per_op" -> "count",
    "catalog.load_ms_p50" -> "ms", "catalog.load_ms_p99" -> "ms",
    "catalog.commit_ms_p50" -> "ms", "catalog.commit_ms_p90" -> "ms",
    "catalog.calls_per_commit_request" -> "count", "catalog.commit_success_ratio" -> "ratio",
    "catalog.retries_per_commit" -> "count", "catalog.busy_ratio" -> "ratio",
    "catalog.metadata_kb_p50" -> "KiB", "catalog.metadata_kb_max" -> "KiB",
    "catalog.bytes_written_per_commit" -> "B",
    "core.decode_ms_per_mb" -> "ms/MiB", "core.encode_ms_per_mb" -> "ms/MiB", "core.apply_ms_p50" -> "ms") ++
    SqlStmts.flatMap(s => Seq(
      s"engine.rest_calls_per_stmt.$s" -> "count", s"engine.commit_attempts_per_stmt.$s" -> "count",
      s"sql.analysis_ms_p50.$s" -> "ms", s"sql.planning_ms_p50.$s" -> "ms", s"sql.exec_ms_p50.$s" -> "ms")) ++
    Seq(
      "meta.manifest_read_ms_p50" -> "ms", "meta.files_live" -> "count", "meta.delete_files_live" -> "count",
      "meta.manifest_bytes_per_commit" -> "B", "scan.files_planned_ratio" -> "ratio",
      "scan.catalog_tax_ratio" -> "ratio", "mor.delete_cache_loads" -> "count",
      "mv.refresh_exec_ms_p50.fold" -> "ms", "mv.refresh_exec_ms_p50.join" -> "ms",
      "mv.rows_written_per_tick" -> "count", "maint.compact_ms" -> "ms", "maint.bytes_rewritten" -> "B") ++
    LlmQueries.flatMap(q => Seq(
      s"llm.query_s_p50.$q" -> "s", s"llm.construct_s_p50.$q" -> "s",
      s"llm.plan_s_p50.$q" -> "s", s"llm.exec_s_p50.$q" -> "s")) ++
    Seq(
      "llm.cc_rounds" -> "count",
      "spark.jobs_per_stmt" -> "count", "spark.tasks_per_stmt" -> "count", "spark.task_busy_ratio" -> "ratio",
      "jvm.gc_ms_per_s" -> "ms/s", "jvm.heap_mb_after_run" -> "MiB", "trace.overhead_ratio" -> "ratio")

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }.toMap

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.err.flush()
        Runtime.getRuntime.halt(1)
    }

  private def run(args: Array[String]): Unit = {
    val a = parse(args)
    val workload = a.getOrElse("workload", sys.error("--workload is required"))
    require(Workloads.contains(workload), s"unknown workload $workload")
    val conf = Conf(
      workload = workload,
      seed = a("seed").toLong,
      seconds = a("seconds").toDouble,
      trace = a.getOrElse("trace", "0") == "1",
      work = Files.createDirectories(Paths.get(a("work")).toAbsolutePath),
      nproc = a.get("nproc").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      tiny = a.get("tiny").contains("1"),
      corrupt = a.get("corrupt").contains("1"),
      expected = Paths.get(a("expected")).toAbsolutePath)
    val out = Paths.get(a("out")).toAbsolutePath

    val loadPre = Jvm.loadAvg
    val o = workload match {
      case "catalog_read" | "catalog_commit" => CatalogBench.run(conf)
      case "sql_lakehouse" => SqlBench.run(conf)
      case "llm_operators" => LlmBench.run(conf)
    }
    val loadPost = Jvm.loadAvg
    val correct = o.checks.forall(_._2)

    val e2e = Map("setup_s" -> o.setupS, "ops_per_s" -> o.opsPerS, "op_ms_p50" -> Stats.median(o.opMs))
    val env = Json.obj()
    env.put("nproc", conf.nproc)
    env.put("load_avg_pre", loadPre)
    env.put("load_avg_post", loadPost)
    env.put("jvm", Jvm.version)
    env.put("jvm_flags", Jvm.flags.mkString(" "))
    env.put("flush_policy", "derby default: log forced at each commit")

    val detail = o.detail
    detail.put("workload", workload)
    detail.put("seed", conf.seed)
    detail.put("seconds", conf.seconds)
    detail.put("trace", conf.trace)
    detail.put("tiny", conf.tiny)
    detail.set("env", env)
    val chk = detail.putArray("checks")
    o.checks.foreach { case (n, ok, msg) => chk.addObject().put("name", n).put("ok", ok).put("detail", msg) }
    val nm = detail.putObject("named")
    o.named.foreach { x =>
      val e = nm.putObject(x.name).put("unit", x.unit).put("samples", x.samples)
      if (x.value.isNaN) e.putNull("value") else e.put("value", x.value)
      x.percentile.foreach(p => e.put("percentile", p))
    }
    val e2eNode = detail.putObject("end_to_end")
    EndToEnd.foreach { case (n, u) => e2eNode.putObject(n).put("value", e2e(n)).put("unit", u) }
    detail.put("op_samples", o.opMs.size)
    if (conf.trace) {
      val ln = detail.putObject("per_layer")
      PerLayer.foreach { case (n, u) =>
        val v = o.layers.getOrElse(n, Double.NaN)
        ln.putObject(n).put("value", if (v.isNaN) 0.0 else v).put("unit", u).put("measured", !v.isNaN)
      }
    }
    Json.write(out.resolve(s"$workload-seed${conf.seed}-trace${if (conf.trace) 1 else 0}.json"), detail)

    // the summary line: named figures with unit and sample count
    val named = o.named.map { x =>
      val p = x.percentile.filter(p => !x.name.endsWith(s"p${p.toInt}")).map(p => s",p$p").getOrElse("")
      s""""${x.name}":"${fmt(x.value)} ${x.unit} (n=${x.samples}$p)""""
    }.mkString(",")
    val summary = s"""LAKEBENCH {"workload":"$workload","seed":${conf.seed},"correct":$correct,""" +
      s""""named":{$named},"nproc":${conf.nproc},"load_avg":[${fmt(loadPre)},${fmt(loadPost)}],""" +
      s""""jvm":"${Jvm.version}","flush":"derby default"}"""
    println(if (summary.length < 2000) summary else summary.take(1990) + "...")
    o.checks.filterNot(_._2).foreach { case (n, _, msg) => System.err.println(s"[lakebench] check $n FAILED: $msg") }

    val metrics = (if (conf.trace) PerLayer.map { case (n, u) => (n, o.layers.getOrElse(n, 0.0), u) }
      else EndToEnd.map { case (n, u) => (n, e2e(n), u) })
      .map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":$correct,"attempted":${math.max(1L, o.attempted)},"failed":${o.failed},"metrics":{$metrics}}""")
    System.out.flush()
    // Spark and the HTTP clients leave non-daemon threads behind.
    Runtime.getRuntime.halt(0)
  }

  private def fmt(v: Double): String = f"$v%.4g"
  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
}
