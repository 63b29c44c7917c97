package graft

import org.apache.spark.sql.SparkSession

/** Single-JVM A/B conf sweep (r19 optimization diagnostics): times the
  * named queries under several RUNTIME-settable SQLConf variants,
  * interleaved round-robin within one JVM so box drift and JIT state
  * hit every variant equally — the cross-JVM comparisons this replaces
  * showed ±40% run-to-run noise that swamped real 20-50% effects.
  *
  * Usage:
  *   SPARK_GRAFT_SWEEP_QUERIES=q_a,q_b \
  *   SPARK_GRAFT_SWEEP_CONFS="key=v1|key=v2|" \  # '|'-separated variants, each "k=v;k=v" (empty = defaults)
  *   sbt "runMain graft.Sweep"
  */
object Sweep {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = EnvNum.int("SPARK_GRAFT_SWEEP_REPS", 4)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "100000")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_MIN_PARTITION_SIZE", "256k"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.fieldId.write.enabled", "true")
      .config("spark.sql.parquet.fieldId.read.enabled", "true")
      .config("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val names = sys.env.getOrElse("SPARK_GRAFT_SWEEP_QUERIES", "q_dedup_ngram_jaccard")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq

    // optional per-stage attribution (SPARK_GRAFT_SWEEP_STAGES=1): per
    // completed stage — wall, task count, summed/max task time — so a
    // slow query is attributable to ONE stage without the (disabled) UI
    val stageLog = collection.mutable.ArrayBuffer[String]()
    val wantStages = sys.env.get("SPARK_GRAFT_SWEEP_STAGES").contains("1")
    if (wantStages) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = s.stageInfo
          val wall = (for {a <- i.completionTime; b <- i.submissionTime}
            yield (a - b) / 1000.0).getOrElse(-1.0)
          stageLog.synchronized {
            stageLog += f"    stage=${i.stageId}%4d wall=$wall%6.2f tasks=${i.numTasks}%4d " +
              f"taskTime=${i.taskMetrics.executorRunTime / 1000.0}%7.2f " +
              i.name.linesIterator.next().take(90)
          }
        }
      })
    val variants: Seq[Seq[(String, String)]] =
      sys.env.getOrElse("SPARK_GRAFT_SWEEP_CONFS", "").split("\\|", -1).toSeq
        .map(_.split(";").toSeq.map(_.trim).filter(_.nonEmpty)
          .map { kv => val Array(k, v) = kv.split("=", 2); (k, v) })

    def runOnce(name: String, dumpStages: Boolean = false): Double = {
      val fn = SparkEntry.queries(name)
      stageLog.synchronized(stageLog.clear())
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      if (dumpStages && wantStages) {
        Thread.sleep(300)
        println(f"  [stages] $name total=$t%.2f")
        stageLog.synchronized(stageLog.toSeq).foreach(println)
      }
      t
    }

    val defaults = variants.flatten.map(_._1).distinct
      .map(k => k -> spark.conf.getOption(k)).toMap
    def applyVariant(v: Seq[(String, String)]): Unit = {
      defaults.foreach { case (k, dv) =>
        dv match { case Some(x) => spark.conf.set(k, x); case None => spark.conf.unset(k) }
      }
      v.foreach { case (k, x) => spark.conf.set(k, x) }
    }

    // warmup: every (variant, query) once, untimed
    variants.foreach { v => applyVariant(v); names.foreach(n => runOnce(n)) }
    val times = collection.mutable.Map[(Int, String), List[Double]]()
      .withDefaultValue(Nil)
    for (rep <- 1 to reps; (v, vi) <- variants.zipWithIndex) {
      applyVariant(v)
      System.gc()
      names.foreach { n => times((vi, n)) ::= runOnce(n, dumpStages = rep == reps) }
    }
    def med(xs: List[Double]): Double = {
      val s = xs.sorted; if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    println("== sweep results (median/min over " + reps + " interleaved reps)")
    for ((v, vi) <- variants.zipWithIndex) {
      val label = if (v.isEmpty) "defaults" else v.map { case (k, x) =>
        s"${k.split('.').last}=$x" }.mkString(",")
      val cols = names.map { n =>
        val ts = times((vi, n))
        f"$n=${med(ts)}%.2f/${ts.min}%.2f"
      }.mkString(" ")
      println(f"[$label] $cols")
    }
    spark.stop()
  }
}
