package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** 10× scale rehearsal: every 100 TB claim in this repo is otherwise
  * proven at sf0.1 plus invariant specs — this derives a deterministic
  * ~N× corpus from a driver testdata dir and (a) re-checks the four
  * growth invariants on it (ScalingRehearsalSpec), (b) records 1× vs
  * N× wall-times (the `main` below → SCALING.md).
  *
  * Growth model: replica r of every document gets each token prefixed
  * `g<r>` — replicas are shingle-disjoint from each other and from the
  * originals, so growth adds NEW content and near-dup density grows
  * LINEARLY (each replica carries its own derived near-copies), which
  * is how a real corpus grows; replica 0 is the untouched original.
  * Embeddings get hash-derived per-element jitter so the vector space
  * fills rather than collapsing onto 10 identical copies. Everything
  * is a pure function of (base row, replica index): two derivations of
  * the same base are byte-identical.
  */
object ScalingRehearsal {

  /** Id stride between replicas — far above any driver-testdata id
    * (sf0.1 tops out < 10⁴; the derivation VERIFIES this per base) and
    * 10 replicas stay below the dedup family's reserved variant range
    * ([[graft.llm.Dedup.VariantIdOffset]]). */
  val ReplicaIdStride = 100000L

  /** Write the N× documents+embeddings derivation of `baseDir` under
    * `outDir` (same file layout as the driver testdata, so every
    * registered query runs on it unchanged). Guards are LOUD, not
    * assumed: base ids must fit under the replica stride (a collision
    * would silently corrupt every dedup/CC invariant measured on the
    * output), and the derived range must stay below the dedup
    * family's reserved variant offset. */
  def derive(spark: SparkSession, baseDir: String, outDir: String,
      replicas: Int): Unit = {
    require(replicas >= 1 &&
        replicas * ReplicaIdStride < graft.llm.Dedup.VariantIdOffset,
      s"replicas=$replicas would cross the reserved variant id range " +
        s"(${graft.llm.Dedup.VariantIdOffset})")
    // bounded, column-pruned guard jobs — this is a rehearsal tool,
    // not a lazy registry builder
    val maxDoc = Tables.load(spark, baseDir, "documents")
      .agg(org.apache.spark.sql.functions.max("doc_id")).head().getLong(0)
    val maxVec = Tables.load(spark, baseDir, "embeddings")
      .agg(org.apache.spark.sql.functions.max("vec_id")).head().getLong(0)
    require(maxDoc < ReplicaIdStride && maxVec < ReplicaIdStride,
      s"base ids (max doc $maxDoc, max vec $maxVec) must stay below the " +
        s"replica stride $ReplicaIdStride — raise ReplicaIdStride for this base")
    Tables.load(spark, baseDir, "documents")
      .selectExpr(s"explode(sequence(0, ${replicas - 1})) as r",
        "doc_id", "text", "lang", "source", "n_chars")
      .selectExpr(
        s"doc_id + r * ${ReplicaIdStride}L as doc_id",
        "case when r = 0 then text else " +
          "array_join(transform(split(text, ' '), t -> concat('g', r, t)), ' ') end as text",
        "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    Tables.load(spark, baseDir, "embeddings")
      .selectExpr(s"explode(sequence(0, ${replicas - 1})) as r",
        "vec_id", "embedding", "label")
      .selectExpr(
        s"vec_id + r * ${ReplicaIdStride}L as vec_id",
        // ±0.05 deterministic jitter per element: hash is pure in
        // (vec_id, r, i), so re-derivation is byte-stable
        "case when r = 0 then embedding else " +
          "transform(embedding, (v, i) -> cast(v + 0.05 * (pmod(hash(vec_id, r, i), 41) - 20) / 20.0 as float)) end as embedding",
        "label")
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  /** Time one registered-query-shaped pipeline to a noop sink. Cache
    * hygiene outside the timed window, same as [[Bench]]: the
    * eager-construction pipelines (CC, BPE, IVF seeds, signature
    * leaves) persist leaves the SQL cache manager never sees; dropping
    * them deterministically keeps pass N from paying pass N-1's
    * residue (the one-outlier-per-pass pattern SCALING.md records). */
  def time(fn: => DataFrame): Double = {
    val t0 = System.nanoTime()
    val df = fn // eager-construction driver jobs stay inside the window
    df.write.format("noop").mode("overwrite").save()
    val t = (System.nanoTime() - t0) / 1e9
    val s = df.sparkSession
    s.sharedState.cacheManager.clearCache()
    s.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    t
  }

  /** Wall-time the headline growth-sensitive pipelines on `dir`,
    * returning (name → seconds). `ivfCells` sizes the quantizer the
    * way a deployment would (cells ∝ corpus). */
  /** SPARK_GRAFT_REHEARSAL_ONLY=a,b restricts the pipeline set — a
    * dev-loop knob for measuring one new pipeline without paying the
    * full matrix; round tables are always generated full-set. */
  private val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_REHEARSAL_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  def measure(spark: SparkSession, dir: String, ivfCells: Int)
      : Seq[(String, Double)] = {
    spark.conf.set(graft.llm.Similarity.IvfCellsConf, ivfCells.toString)
    val entries: Seq[(String, () => Double)] = Seq(
      "minhash_lsh_pairs" -> (() => time(graft.llm.Dedup.qDedupMinhashLsh(spark, dir))),
      "lsh_clusters_cc" -> (() => time(graft.llm.Dedup.qDedupClusters(spark, dir))),
      "ngram_jaccard" -> (() => time(graft.llm.Dedup.qDedupNgramJaccard(spark, dir))),
      "vocab_topk" -> (() => time(graft.llm.CorpusStats.qVocabTopk(spark, dir))),
      "quality_quantile" -> (() => time(graft.llm.TextAnalysis.qQualityQuantile(spark, dir))),
      "source_cap" -> (() => time(graft.llm.Sampling.qSourceCap(spark, dir))),
      "ivf_index" -> (() => time(graft.llm.Similarity.ivfIndex(spark, dir))),
      "ivf_index_2level" -> (() => time(graft.llm.Similarity.ivfIndexTwoLevel(spark, dir))),
      "dup_spans" -> (() => time(graft.llm.Dedup.qDupSpans(spark, dir))),
      "lm_bigram_surprisal" -> (() => time(graft.llm.CorpusStats.qLmBigramSurprisal(spark, dir))),
      "incremental_exact" -> (() => time(graft.llm.IncrementalDedup.qDedupIncrementalExact(spark, dir))),
      "split_leakfree" -> (() => time(graft.llm.Sampling.qSplitLeakfree(spark, dir))),
      "mix_temperature" -> (() => time(graft.llm.Sampling.qMixTemperature(spark, dir))),
      "emb_kmeans" -> (() => time(graft.llm.Similarity.qEmbKmeans(spark, dir))),
      "doc_chunks" -> (() => time(graft.llm.TextAnalysis.qDocChunks(spark, dir))),
      "bpe_merges" -> (() => time(graft.llm.Tokenizer.qBpeMerges(spark, dir))),
      "dedup_report" -> (() => time(graft.llm.Dedup.qDedupReport(spark, dir))),
      // the r12 additions: the two indexed cluster riders (signature
      // leaf computed once, report/split read it) and semdedup, whose
      // build now ROUTES — flat at 1× (cells=16), two-level past the
      // threshold at 10× (cells=160) — so its ratio shows the routing
      "dedup_report_indexed" -> (() => time(graft.llm.DedupPipeline.qDedupReportIndexed(spark, dir))),
      "split_leakfree_indexed" -> (() => time(graft.llm.DedupPipeline.qSplitLeakfreeIndexed(spark, dir))),
      "semdedup_routed" -> (() => time(graft.llm.Similarity.qSemDedup(spark, dir))),
      "pq_adc_topk" -> (() => time(graft.llm.Similarity.qPqTopK(spark, dir))),
      // late-r12: fixed anchor/query sets mean these must scale with
      // the corpus scan alone (ratio ≈ replicas); emb_outliers rides
      // the ROUTED build (flat at 1×, two-level at N× cells), so its
      // ratio shows the routing the same way semdedup's does
      "ann_recall" -> (() => time(graft.llm.Similarity.qAnnRecall(spark, dir))),
      "emb_outliers" -> (() => time(graft.llm.Similarity.qEmbOutliers(spark, dir))),
      "hard_negatives" -> (() => time(graft.llm.Similarity.qHardNegatives(spark, dir))),
      "lm_ppl_band" -> (() => time(graft.llm.CorpusStats.qLmPplBand(spark, dir))),
      // r12 second wave: containment rides the same capped-collect
      // pair core as ngram_jaccard (ratio must match its shape);
      // novelty rides the dup-spans window machinery; the trigram
      // scorer is the heaviest text op (trigram-vocabulary model);
      // truncate_rerank's stage-2 pool is FIXED, so its ratio must
      // track the coarse corpus scan alone (≈ replicas)
      "dedup_containment" -> (() => time(graft.llm.Dedup.qDedupContainment(spark, dir))),
      "doc_novelty" -> (() => time(graft.llm.Dedup.qDocNovelty(spark, dir))),
      "lm_trigram_backoff" -> (() => time(graft.llm.CorpusStats.qLmTrigramBackoff(spark, dir))),
      "emb_truncate_rerank" -> (() => time(graft.llm.Similarity.qEmbTruncateRerank(spark, dir))),
      // r12 third wave: seq_pack is the distributed prefix sum + a
      // token-bounded explode (ratio must track the corpus linearly);
      // dsir's model is a fixed 4096-bucket broadcast, so its cost is
      // the two token scans alone — also linear, never skew-bound
      "seq_pack" -> (() => time(graft.llm.Sampling.qSeqPack(spark, dir))),
      "dsir_importance" -> (() => time(graft.llm.CorpusStats.qDsirImportance(spark, dir))),
      // r12 fourth wave: KMV distinct sketches are ONE corpus bigram
      // scan into k-longs-per-source state — the ratio must track the
      // scan alone (≈ replicas), never the distinct-bigram count the
      // replicas multiply (which is exactly what COUNT(DISTINCT)
      // could not promise)
      "kmv_distinct" -> (() => time(graft.llm.CorpusStats.qKmvDistinct(spark, dir))),
      // r13: the two IVFADC composites — the suite's heaviest ANN
      // queries and (residual especially) the one family that already
      // hid a quadratic once. Their coarse quantizer now conf-routes
      // two-level at cells ≥ threshold (160 at 10× trips it), and the
      // shared stages (centroids, assignment, codebook) are cached
      // leaves computed once per query — the ratio must track the
      // coded-corpus scan, not a re-run Lloyd chain per consumer
      "ivfadc_topk" -> (() => time(graft.llm.Similarity.qIvfAdcTopK(spark, dir))),
      "ivfadc_residual" -> (() => time(graft.llm.Similarity.qIvfAdcResidualTopK(spark, dir))),
      // r13: hybrid retrieval end to end (BM25 postings build + keyed
      // scoring + dense pool + fusion). The postings/df aggregates are
      // corpus-linear explode→combine pipelines and the query side is
      // a broadcast constant, so the ratio must track the token scan —
      // a superlinear ratio here would mean the ranking stopped being
      // a bounded TopK fold
      "bm25_hybrid_rrf" -> (() => time(graft.llm.Retrieval.qHybridRrf(spark, dir))),
      // r14: the OPERATING retrieval path — a batch of queries scored
      // against the frozen index through KEYED joins only (nothing
      // batch-derived broadcasts; the stopword df-cap bounds per-term
      // posting fan-out). The hybrid row covers the constant-query
      // batch path; this is the shape that must survive 100 TB, so it
      // gets its own growth row — the exact gap r12 flagged for the
      // IVFADC residual composite
      "bm25_incremental" -> (() => time(graft.llm.Retrieval.qBm25Incremental(spark, dir))))
    try entries.filter(e => only.forall(_.contains(e._1)))
      .map { case (name, run) => name -> run() }
    finally spark.conf.unset(graft.llm.Similarity.IvfCellsConf)
  }

  /** Derive sf0.1 × N under /tmp and print the 1× vs N× wall-time
    * table (markdown) — the SCALING.md generator. Args:
    * [baseDir] [replicas] [outDir]. */
  def main(args: Array[String]): Unit = {
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val replicas = args.lift(1).map(_.toInt).getOrElse(10)
    val outDir = args.lift(2).getOrElse("/tmp/graft-scaling-x" + replicas)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // same rationale as Bench/Verify: bounded-buffer imperative
      // aggregates are hash-friendly; the 128-key default would make
      // the 10x capped-collect run measure the sort fallback instead
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    derive(spark, baseDir, outDir, replicas)

    // warmup (JIT/codegen/footers), then THREE measured passes per
    // scale: SCALING.md's single-pass tables showed one ~2-3× outlier
    // per pass, behind which a real quadratic could hide — min-of-3 is
    // the plan's floor (outlier-immune), the median shows the spread.
    val passes = EnvNum.int("SPARK_GRAFT_REHEARSAL_PASSES", 3).max(1)
    measure(spark, baseDir, 16)
    val onePasses = Seq.fill(passes)(measure(spark, baseDir, 16))
    val oneCc = graft.llm.Dedup.lastCcRounds
    val bigPasses = Seq.fill(passes)(measure(spark, outDir, 16 * replicas))
    val bigCc = graft.llm.Dedup.lastCcRounds

    def stats(ps: Seq[Seq[(String, Double)]], name: String): (Double, Double) = {
      val ts = ps.map(_.find(_._1 == name).get._2).sorted
      (ts(ts.size / 2), ts.head) // (median, min)
    }
    val names = onePasses.head.map(_._1)
    println(s"| pipeline | 1x med (s) | 1x min (s) | ${replicas}x med (s) | ${replicas}x min (s) | ratio (min) |")
    println("|---|---|---|---|---|---|")
    names.foreach { n =>
      val (m1, f1) = stats(onePasses, n)
      val (mN, fN) = stats(bigPasses, n)
      println(f"| $n | $m1%.2f | $f1%.2f | $mN%.2f | $fN%.2f | ${fN / f1}%.1fx |")
    }
    println(f"| cc_rounds | $oneCc | — | $bigCc | — | — |")
    spark.stop()
  }
}

/** The MV-REFRESH-TICK growth rehearsal (r15): N× MORE MV KEYS at
  * FIXED churn — the whole point of churn-sized maintenance is that
  * the tick's cost follows the churn, not the materialization, so the
  * tick wall-time must stay ~flat as the MV grows 10×. Covers BOTH
  * maintenance tiers that commit keyed replacements:
  *  - `mv_fold_tick`: single-table arithmetic fold (count/sum),
  *  - `mv_join_rebuild_tick`: the two-table join REBUILD tier (the
  *    r14 weak item — its tick COMPUTE is per-side restricted and
  *    file-pruned as of r15, so this row is the proof at scale).
  * The backing tables are sort-compacted (`rewrite_data_files` with a
  * key z-order) the way a deployment would maintain them, so the
  * touched-key bounds prune files, not just rows. Prints the same
  * min-of-N markdown rows SCALING.md carries. */
object MvTickRehearsal {

  private def timeTick(spark: SparkSession)(run: => Unit): Double = {
    val t0 = System.nanoTime()
    run
    val t = (System.nanoTime() - t0) / 1e9
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    t
  }

  /** Build the two MVs over nKeys-key sources, then time `passes`
    * refresh ticks of a fixed `churn`-key delta each. Returns
    * (row name → per-pass tick seconds). */
  /** Run-unique catalog suffix: Spark's CatalogManager caches plugin
    * instances by NAME, so a catalog name keyed only on nKeys collides
    * when two measure() calls share a size (e.g. warmup at 1000 vs a
    * caller-passed 1000, or nKeys*mult landing on a prior size) — the
    * cached plugin still points at the earlier, now-stopped
    * CatalogServer. An incrementing counter makes every run's name
    * fresh. */
  private val runSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  def measure(spark: SparkSession, nKeys: Long, churn: Int, passes: Int)
      : Seq[(String, Seq[Double])] = {
    val cat = s"mvtick${nKeys}r${runSeq.incrementAndGet()}"
    val store = new graft.catalog.InMemoryCatalogStore
    val project = java.util.UUID.randomUUID()
    val server = new graft.server.CatalogServer(store, project).start()
    try {
      val whLoc = java.nio.file.Files.createTempDirectory(s"graft-mvtick-$nKeys")
        .toUri.toString.stripSuffix("/")
      store.createWarehouse(project, "wh", whLoc)
        .fold(e => sys.error(e.message), identity)
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.engine.GraftSparkCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.uri", server.baseUri)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", "wh")
      spark.sql(s"CREATE NAMESPACE $cat.db")

      // fold tier: one source, count/sum MV
      spark.sql(s"CREATE TABLE $cat.db.src (k BIGINT, v BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.src SELECT id, id FROM range(0, $nKeys, 1, 8)")
      spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.mv_fold AS " +
        s"SELECT k, count(*) AS n, sum(v) AS s FROM $cat.db.src GROUP BY k")
      // join-rebuild tier: two sources, a two-conjunct condition keeps
      // it out of the arithmetic fold grammar (same shape the specs pin)
      spark.sql(s"CREATE TABLE $cat.db.ja (ak BIGINT, av BIGINT)")
      spark.sql(s"CREATE TABLE $cat.db.jb (bk BIGINT, bv BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.ja SELECT id, id FROM range(0, $nKeys, 1, 8)")
      spark.sql(s"INSERT INTO $cat.db.jb SELECT id, id FROM range(0, $nKeys, 1, 8)")
      spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.mv_rj AS " +
        s"SELECT a.ak AS ak, b.bk AS bk, count(*) AS n " +
        s"FROM $cat.db.ja a JOIN $cat.db.jb b ON a.av = b.bv AND b.bv >= 0 " +
        s"GROUP BY a.ak, b.bk")
      // N-ary (3-table) rebuild tier, all sides keyed — every side
      // restricts and file-prunes, so this tick must stay flat too
      spark.sql(s"CREATE TABLE $cat.db.jc (ck BIGINT, cv BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.jc SELECT id, id FROM range(0, $nKeys, 1, 8)")
      spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.mv_3j AS " +
        s"SELECT a.ak AS ak, b.bk AS bk, c.ck AS ck, count(*) AS n " +
        s"FROM $cat.db.ja a JOIN $cat.db.jb b ON a.av = b.bv " +
        s"JOIN $cat.db.jc c ON b.bv = c.cv " +
        s"GROUP BY a.ak, b.bk, c.ck")
      // expression-keyed tier (r16): GROUP BY a time bucket — the tick
      // file-prunes the source scan through the inverse-bounds
      // registry, so fixed-churn ticks must stay flat as keys grow
      spark.sql(s"CREATE TABLE $cat.db.es (ts TIMESTAMP, v BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.es " +
        s"SELECT timestamp'2020-01-01 00:00:00' + make_interval(0,0,0,0,id,0,0), id " +
        s"FROM range(0, $nKeys, 1, 8)")
      spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.mv_expr AS " +
        s"SELECT date_trunc('HOUR', ts) AS h, count(*) AS n, sum(v) AS s " +
        s"FROM $cat.db.es GROUP BY date_trunc('HOUR', ts)")
      // LEFT-chain tier (r16): fact LEFT dim1 LEFT dim2 — the spine
      // cover's prefix semis and chain evaluations must stay
      // churn-driven
      spark.sql(s"CREATE TABLE $cat.db.cf (k BIGINT, r1 BIGINT, r2 BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.cf SELECT id, id, id FROM range(0, $nKeys, 1, 8)")
      spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.mv_chain AS " +
        s"SELECT f.k AS k, d1.bk AS bk, d2.ck AS ck, count(*) AS n " +
        s"FROM $cat.db.cf f LEFT JOIN $cat.db.jb d1 ON f.r1 = d1.bv " +
        s"LEFT JOIN $cat.db.jc d2 ON f.r2 = d2.cv " +
        s"GROUP BY f.k, d1.bk, d2.ck")
      // window tier (r17): rank<=3 leaderboard — the tick recomputes
      // only the touched partitions from the file-pruned head scan, so
      // fixed-churn ticks must stay flat as the key count grows
      spark.sql(s"CREATE TABLE $cat.db.ws (k BIGINT, v BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.ws SELECT id div 4, id " +
        s"FROM range(0, $nKeys, 1, 8)")
      spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.mv_topk AS " +
        s"SELECT k, v, rn FROM (SELECT k, v, row_number() OVER " +
        s"(PARTITION BY k ORDER BY v DESC) AS rn FROM $cat.db.ws) WHERE rn <= 3")
      // window-EXPR tier (r18): hour-bucketed top-k — the tick's scan
      // file-prunes through the inverse-bounds registry on the bucket
      // expression, so fixed-churn ticks must stay flat as hours grow
      spark.sql(s"CREATE TABLE $cat.db.wes (ts TIMESTAMP, v BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.wes " +
        s"SELECT timestamp'2020-01-01 00:00:00' + make_interval(0,0,0,0,0,id,0), id " +
        s"FROM range(0, $nKeys, 1, 8)")
      spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.mv_wexpr AS " +
        s"SELECT date_trunc('HOUR', ts) AS h, v, rn FROM (" +
        s"SELECT ts, v, row_number() OVER (PARTITION BY date_trunc('HOUR', ts) " +
        s"ORDER BY v DESC) AS rn FROM $cat.db.wes) WHERE rn <= 3")
      // FULL-chain tier (r18): fact FULL dim LEFT dim2 — part A stays
      // churn-restricted; part B (the dim-side null-extension tuples)
      // pays ONE unrestricted gated plan evaluation whenever flips are
      // touched, with churn-sized write. Expect the tick to scale with
      // the table (documented cost model), NOT with the MV rewrite.
      spark.sql(s"CREATE TABLE $cat.db.ff (k BIGINT, r1 BIGINT, r2 BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.ff SELECT id, id, id FROM range(0, $nKeys, 1, 8)")
      spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.mv_fullchain AS " +
        s"SELECT f.k AS k, d1.bk AS bk, d2.ck AS ck, count(*) AS n " +
        s"FROM $cat.db.ff f FULL JOIN $cat.db.jb d1 ON f.r1 = d1.bv " +
        s"LEFT JOIN $cat.db.jc d2 ON f.r2 = d2.cv " +
        s"GROUP BY f.k, d1.bk, d2.ck")
      // deployment-style maintenance: sort-compact sources and MVs so
      // per-file key ranges are tight and touched-key bounds prune
      for ((t, k) <- Seq("src" -> "k", "mv_fold" -> "k",
          "ja" -> "ak", "jb" -> "bk", "mv_rj" -> "ak",
          "jc" -> "ck", "mv_3j" -> "ak",
          "es" -> "ts", "mv_expr" -> "h",
          "cf" -> "k", "mv_chain" -> "k",
          "ws" -> "k", "mv_topk" -> "k",
          "wes" -> "ts", "mv_wexpr" -> "h",
          "ff" -> "k", "mv_fullchain" -> "k")) {
        spark.sql(s"CALL $cat.system.rewrite_data_files(" +
          s"table => 'db.$t', target_file_count => 16, zorder => '$k')")
      }
      val plugin = org.apache.spark.sql.GraftShims.catalogPlugin(spark, Some(cat))
        .asInstanceOf[graft.engine.GraftSparkCatalog]
      def tick(mv: String): Unit =
        graft.engine.GraftMaterializedViews.refresh(spark, plugin,
          graft.catalog.TableIdent(Seq("db"), mv))

      val foldTimes = Seq.newBuilder[Double]
      val rjTimes = Seq.newBuilder[Double]
      val j3Times = Seq.newBuilder[Double]
      val exprTimes = Seq.newBuilder[Double]
      val chainTimes = Seq.newBuilder[Double]
      val topkTimes = Seq.newBuilder[Double]
      val wexprTimes = Seq.newBuilder[Double]
      val fullTimes = Seq.newBuilder[Double]
      (0 until passes).foreach { p =>
        // FIXED churn regardless of nKeys: the first `churn` keys
        spark.sql(s"INSERT INTO $cat.db.src SELECT id, id + $p " +
          s"FROM range(0, $churn, 1, 1)")
        foldTimes += timeTick(spark)(tick("mv_fold"))
        spark.sql(s"INSERT INTO $cat.db.ja SELECT id, id " +
          s"FROM range(0, $churn, 1, 1)")
        rjTimes += timeTick(spark)(tick("mv_rj"))
        // mv_3j sees ja's churn too (its own checkpoint is behind)
        j3Times += timeTick(spark)(tick("mv_3j"))
        // expr tier: churn confined to the first `churn` hour buckets
        spark.sql(s"INSERT INTO $cat.db.es " +
          s"SELECT timestamp'2020-01-01 00:00:00' + make_interval(0,0,0,0,id,0,0), id + $p " +
          s"FROM range(0, $churn, 1, 1)")
        exprTimes += timeTick(spark)(tick("mv_expr"))
        // chain tier: spine churn on the first `churn` keys
        spark.sql(s"INSERT INTO $cat.db.cf SELECT id, id, id " +
          s"FROM range(0, $churn, 1, 1)")
        chainTimes += timeTick(spark)(tick("mv_chain"))
        // window tier: churn confined to the first churn/4 partitions
        spark.sql(s"INSERT INTO $cat.db.ws SELECT id div 4, $nKeys + id + $p " +
          s"FROM range(0, $churn, 1, 1)")
        topkTimes += timeTick(spark)(tick("mv_topk"))
        // window-EXPR tier: churn confined to the first churn minutes
        // (= first churn/60 hour buckets)
        spark.sql(s"INSERT INTO $cat.db.wes " +
          s"SELECT timestamp'2020-01-01 00:00:00' + make_interval(0,0,0,0,0,id,0), " +
          s"$nKeys + id + $p FROM range(0, $churn, 1, 1)")
        wexprTimes += timeTick(spark)(tick("mv_wexpr"))
        // FULL chain: fact churn on the first `churn` keys — the
        // matching dim rows become flip candidates, so part B executes
        spark.sql(s"INSERT INTO $cat.db.ff SELECT id, id, id " +
          s"FROM range(0, $churn, 1, 1)")
        fullTimes += timeTick(spark)(tick("mv_fullchain"))
      }
      Seq("mv_fold_tick" -> foldTimes.result(),
        "mv_join_rebuild_tick" -> rjTimes.result(),
        "mv_3table_rebuild_tick" -> j3Times.result(),
        "mv_expr_tick" -> exprTimes.result(),
        "mv_chain_tick" -> chainTimes.result(),
        "mv_window_topk_tick" -> topkTimes.result(),
        "mv_window_expr_tick" -> wexprTimes.result(),
        "mv_full_chain_tick" -> fullTimes.result())
    } finally {
      server.stop()
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.uri")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  /** Args: [nKeys1x] [multiplier] [churn]. Prints SCALING.md rows. */
  def main(args: Array[String]): Unit = {
    val nKeys = args.lift(0).map(_.toLong).getOrElse(50000L)
    val mult = args.lift(1).map(_.toInt).getOrElse(10)
    val churn = args.lift(2).map(_.toInt).getOrElse(100)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes = EnvNum.int("SPARK_GRAFT_REHEARSAL_PASSES", 3).max(1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.parquet.fieldId.write.enabled", "true")
      .config("spark.sql.parquet.fieldId.read.enabled", "true")
      .config("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup at a throwaway size (JIT, codegen, commit path)
    measure(spark, 1000L, churn, 1)
    val one = measure(spark, nKeys, churn, passes)
    val big = measure(spark, nKeys * mult, churn, passes)
    def stats(ts: Seq[Double]): (Double, Double) =
      (ts.sorted.apply(ts.size / 2), ts.min)
    println(s"| tick (churn=$churn keys) | ${nKeys} keys med (s) | min | " +
      s"${nKeys * mult} keys med (s) | min | ratio (min) |")
    println("|---|---|---|---|---|---|")
    one.zip(big).foreach { case ((n, t1), (_, tN)) =>
      val (m1, f1) = stats(t1)
      val (mN, fN) = stats(tN)
      println(f"| $n | $m1%.2f | $f1%.2f | $mN%.2f | $fN%.2f | ${fN / f1}%.1fx |")
    }
    spark.stop()
  }
}
