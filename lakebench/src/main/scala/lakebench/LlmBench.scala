package lakebench

import com.fasterxml.jackson.databind.JsonNode

import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer

/** `llm_operators`: repeated passes over four training-data operators,
  * reading generated bare parquet and writing to a noop sink the way
  * `graft.Bench` runs them. No catalog traffic: this is the control that
  * should not move when catalog code changes.
  *
  * The corpus is generated from a fixed corpus seed so each query's
  * result digest can be recorded in `expected.json`, and the queries run
  * in a fixed order (the first query of a pass runs ~15% slower, so an
  * order drawn from the run seed moved the median by itself): the run
  * seed is recorded but changes nothing here.
  */
object LlmBench {
  val CorpusSeed = 42L

  final case class Sizes(documents: Long, embeddings: Long) {
    def key: String = s"documents=$documents,embeddings=$embeddings"
  }

  /** One query execution: construct / plan / exec seconds, jobs, tasks. */
  final case class QRun(name: String, constructS: Double, planS: Double, execS: Double, jobs: Long, tasks: Long) {
    def totalS: Double = constructS + planS + execS
  }

  def run(conf: Conf): Outcome = {
    val sizes = if (conf.tiny) Sizes(200, 200) else Sizes(500, 500)
    val (side, sessionS) = Timer.secs(new SparkSide(conf))
    val spark = side.spark
    val queries = graft.SparkEntry.queries

    val reps = 3
    val dir = conf.work.resolve("corpus")
    val genTimes = (1 to reps).map { _ =>
      Timer.secs {
        Files.createDirectories(dir)
        SparkSide.write(DataGen.documents(spark, CorpusSeed, sizes.documents), dir, "documents")
        SparkSide.write(DataGen.embeddings(spark, CorpusSeed, sizes.embeddings), dir, "embeddings")
      }._2
    }

    def hygiene(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    def once(name: String): QRun = {
      val (j0, k0) = (side.jobs.get, side.tasks.get)
      val t0 = System.nanoTime()
      val df = queries(name)(spark, dir.toString)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      hygiene()
      QRun(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, side.jobs.get - j0, side.tasks.get - k0)
    }
    def passes(seconds: Double): (Seq[Seq[QRun]], Double) = Timer.secs {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val out = ArrayBuffer.empty[Seq[QRun]]
      while (out.isEmpty || System.nanoTime() < deadline) out += Main.LlmQueries.map(once)
      out.toSeq
    }

    // Warm-up, untimed: one pass that also collects each result for the
    // output check.
    val (digests, warmS) = Timer.secs(Main.LlmQueries.map(q => q -> SparkSide.digest(queries(q)(spark, dir.toString))).toMap)
    val setupS = sessionS + Stats.median(genTimes) + warmS

    val gc0 = Jvm.gcMs
    val (plain, plainS) = passes(if (conf.trace) conf.seconds / 2 else conf.seconds)
    val gcPlain = Jvm.gcMs - gc0
    val layers = if (!conf.trace) Map.empty[String, Double] else {
      side.drain()
      val gc1 = Jvm.gcMs
      val run0 = side.taskRunMs.get
      val (tp, tS) = passes(conf.seconds / 2)
      side.drain()
      val busy = (side.taskRunMs.get - run0) / (tS * 1000 * conf.nproc)
      val runs = tp.flatten
      val perQuery = Main.LlmQueries.flatMap { q =>
        val rs = runs.filter(_.name == q)
        Seq(s"llm.query_s_p50.$q" -> Stats.median(rs.map(_.totalS)),
          s"llm.construct_s_p50.$q" -> Stats.median(rs.map(_.constructS)),
          s"llm.plan_s_p50.$q" -> Stats.median(rs.map(_.planS)),
          s"llm.exec_s_p50.$q" -> Stats.median(rs.map(_.execS)))
      }
      perQuery.toMap ++ Map(
        "llm.cc_rounds" -> graft.llm.Dedup.lastCcRounds.toDouble,
        "spark.jobs_per_stmt" -> runs.map(_.jobs).sum.toDouble / runs.size,
        "spark.tasks_per_stmt" -> runs.map(_.tasks).sum.toDouble / runs.size,
        "spark.task_busy_ratio" -> busy,
        "jvm.gc_ms_per_s" -> (Jvm.gcMs - gc1) / tS,
        "jvm.heap_mb_after_run" -> Jvm.heapMbAfterGc,
        "trace.overhead_ratio" -> (runs.size / tS) / (plain.flatten.size / plainS))
    }

    // Output check: each query's result digest against the one recorded
    // for this corpus.
    val expected: Option[JsonNode] =
      if (Files.exists(conf.expected)) Option(Json.M.readTree(conf.expected.toFile).path("llm_operators")
        .get(sizes.key)) else None
    val checks = Main.LlmQueries.map { q =>
      val got = if (conf.corrupt && q == Main.LlmQueries.head) digests(q).reverse else digests(q)
      val want = expected.flatMap(e => Option(e.get(q))).map(_.asText())
      (q, want.contains(got), s"digest $got, recorded ${want.getOrElse("none")}")
    }

    val flat = plain.flatten
    val named = Seq(
      Named("setup_s", setupS, "s", reps),
      Named("ops_per_s", flat.size / plainS, "1/s", flat.size),
      Named("failed_ratio", 0.0, "ratio", flat.size),
      Named("pass_s_p50", Stats.median(plain.map(_.map(_.totalS).sum)), "s", plain.size, Some(50)))

    val detail = Json.obj()
    detail.put("corpus", sizes.key)
    detail.put("corpus_seed", CorpusSeed)
    detail.put("passes", plain.size)
    detail.put("session_s", sessionS)
    val gr = detail.putArray("datagen_reps_s"); genTimes.foreach(gr.add)
    detail.put("warmup_s", warmS)
    detail.put("gc_ms_untraced", gcPlain)
    val dg = detail.putObject("digests"); digests.foreach { case (q, d) => dg.put(q, d) }
    val qs = detail.putArray("queries")
    flat.foreach(r => qs.addObject().put("name", r.name).put("construct_s", r.constructS)
      .put("plan_s", r.planS).put("exec_s", r.execS).put("jobs", r.jobs).put("tasks", r.tasks))
    Outcome(setupS, flat.size / plainS, flat.map(_.totalS * 1000), flat.size.toLong, 0L, named, layers,
      checks, detail)
  }
}
