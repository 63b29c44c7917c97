package lakebench

import graft.catalog.{CatalogError, TableIdent}
import graft.core._
import graft.engine.RestCatalogClient
import graft.server.RestCodecs

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}
import scala.collection.mutable.ArrayBuffer

/** The two REST-only workloads. Both are closed loops: `nproc` clients,
  * each with its own [[RestCatalogClient]] and HTTP client, block on
  * every call to an in-process `CatalogServer` over `JdbcCatalogStore`.
  *
  *  - `catalog_read`: 200 tables whose histories run 10..1000 snapshots
  *    (log-uniform; ~36 MB of metadata JSON, beyond Derby's 4 MB page
  *    cache), Zipf table choice, 95% loadTable / 5% appends.
  *  - `catalog_commit`: 16 ten-snapshot tables, Zipf table choice, 90%
  *    single-table appends / 10% four-table transactions, every one the
  *    Iceberg committer loop with a bounded retry budget on 409.
  */
object CatalogBench {
  private val LoadK = 0
  private val CommitK = 1
  private val TxnK = 2
  private val KindName = Array("load", "commit", "txn")
  /** Attempts per logical commit before it counts as failed. */
  private val RetryBudget = 64

  /** One generated operation: its kind and the tables it touches. */
  final case class Op(kind: Int, tables: Array[Int])
  /** One completed logical operation, client-observed. */
  final case class Rec(kind: Int, t0: Long, t1: Long, tables: Array[Int], attempts: Int, ok: Boolean) {
    def ms: Double = (t1 - t0) / 1e6
  }

  final case class Shape(tables: Int, minSnaps: Int, maxSnaps: Int, zipfS: Double,
      commitShare: Double, txnShare: Double, txnWidth: Int, warmupOps: Int)

  def shape(conf: Conf): Shape = (conf.workload, conf.tiny) match {
    case ("catalog_read", false) => Shape(200, 10, 1000, 1.0, 0.05, 0.0, 0, 60)
    case ("catalog_read", true) => Shape(12, 10, 100, 1.0, 0.05, 0.0, 0, 5)
    // s = 0.8: at s = 1 the four-table transactions starve behind the
    // single-table appends on the hottest tables and exhaust the budget
    case ("catalog_commit", false) => Shape(16, 10, 10, 0.8, 0.90, 0.10, 4, 15)
    case ("catalog_commit", true) => Shape(6, 10, 10, 0.8, 0.90, 0.10, 4, 5)
    case other => sys.error(s"not a catalog workload: $other")
  }

  /** Fixed seed of the popularity order, shared by every run seed. */
  val PopularitySeed = 42L

  /** Snapshot count of the table at each popularity rank: the log-uniform
    * quantiles in [min, max], dealt to the ranks by a permutation from
    * [[PopularitySeed]], so popularity is not tied to history length. The
    * mapping is the same for every run seed: with popularity drawn from
    * the run seed, whether loads of short histories (whose responses
    * stall on delayed ACK) or of long ones (which pay decoding instead)
    * form the majority changed with the seed, and the median with it. */
  def histories(sh: Shape): Array[Int] = {
    val a = Array.tabulate(sh.tables)(k => math.round(math.exp(math.log(sh.minSnaps) +
      (k + 0.5) / sh.tables * (math.log(sh.maxSnaps) - math.log(sh.minSnaps)))).toInt)
    val r = new java.util.Random(PopularitySeed)
    for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a
  }

  /** Client `c`'s operation sequence; table `t<r>` has popularity rank r. */
  def operations(sh: Shape, seed: Long, c: Int, n: Int): Array[Op] = {
    val zipf = new Zipf(sh.tables, sh.zipfS)
    val r = new java.util.Random(seed * 7919 + 97 * c + 3)
    Array.fill(n) {
      val u = r.nextDouble()
      if (u < sh.txnShare) {
        val ts = scala.collection.mutable.LinkedHashSet.empty[Int]
        while (ts.size < sh.txnWidth) ts += zipf.sample(r)
        Op(TxnK, ts.toArray.sorted)
      } else if (u < sh.txnShare + sh.commitShare) Op(CommitK, Array(zipf.sample(r)))
      else Op(LoadK, Array(zipf.sample(r)))
    }
  }

  def tableName(i: Int): String = f"t$i%03d"

  /** One client: its own REST and HTTP clients; records every logical op
    * and every loadTable round trip (`loads`: t0, t1, table). */
  final class Client(h: CatalogHandle, ops: Array[Op], acked: AtomicLongArray,
      snapIds: AtomicLong, rnd: java.util.Random) {
    private val rest = new RestCatalogClient(h.server.baseUri)
    private val http = HttpClient.newHttpClient()
    private var next = 0
    val recs = ArrayBuffer.empty[Rec]
    val loads = ArrayBuffer.empty[(Long, Long, Int)]
    val errors = ArrayBuffer.empty[String]
    var requests = 0L

    private def ident(t: Int) = TableIdent(History.Namespace, tableName(t))

    private def load(t: Int): TableMetadata = {
      val t0 = System.nanoTime()
      val m = rest.loadTable(h.prefix, ident(t)).metadata
      loads += ((t0, System.nanoTime(), t))
      requests += 1
      m
    }

    private def change(t: Int, cur: TableMetadata): (Seq[TableRequirement], Seq[TableUpdate]) = {
      val id = snapIds.incrementAndGet()
      val snap = Snapshot(id, cur.currentSnapshotId, cur.lastSequenceNumber + 1,
        System.currentTimeMillis(), s"${cur.location}/metadata/snap-$id-1.avro",
        History.summary(id, rnd, cur.currentSnapshot.flatMap(_.summary.get("total-records"))
          .map(_.toLong).getOrElse(0L)), Some(cur.currentSchemaId))
      (Seq(TableRequirement.AssertRefSnapshotId("main", cur.refs.get("main").map(_.snapshotId))),
        Seq(TableUpdate.AddSnapshot(snap), TableUpdate.SetSnapshotRef("main", id, SnapshotRefType.Branch)))
    }

    /** Iceberg committer loop: load, build against current, commit with
      * assert-ref; on 409 reload and rebuild, within [[RetryBudget]]. */
    private def commitLoop(tables: Array[Int]): (Int, Boolean) = {
      var attempt = 0
      while (attempt < RetryBudget) {
        attempt += 1
        val changes = tables.map(t => t -> change(t, load(t)))
        val conflict =
          if (tables.length == 1) {
            val (t, (reqs, ups)) = changes.head
            requests += 1
            try { rest.commitTable(h.prefix, ident(t), reqs, ups); false }
            catch { case e: CatalogError if e.code == 409 => true }
          } else {
            val body = changes.map { case (t, (reqs, ups)) =>
              RestCodecs.commitRequestJson(Some(ident(t)), reqs, ups) }
              .mkString("{\"table-changes\":[", ",", "]}")
            requests += 1
            val resp = http.send(HttpRequest.newBuilder(
                URI.create(s"${h.server.baseUri}/catalog/v1/${h.prefix}/transactions/commit"))
              .header("Content-Type", "application/json")
              .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
              HttpResponse.BodyHandlers.ofString())
            resp.statusCode() match {
              case s if s < 300 => false
              case 409 => true
              case s => throw CatalogError(s, "HttpError", resp.body())
            }
          }
        if (!conflict) {
          tables.foreach(t => acked.incrementAndGet(t))
          return (attempt, true)
        }
      }
      (attempt, false)
    }

    /** Runs operations until `deadlineNs` or `maxOps`, whichever first. */
    def run(deadlineNs: Long, maxOps: Int): Unit = {
      var done = 0
      while (done < maxOps && System.nanoTime() < deadlineNs) {
        val op = ops(next % ops.length)
        next += 1
        done += 1
        val t0 = System.nanoTime()
        val (attempts, ok) =
          try {
            if (op.kind == LoadK) { load(op.tables(0)); (1, true) }
            else commitLoop(op.tables)
          } catch {
            case e: Exception =>
              errors += s"${KindName(op.kind)} ${op.tables.mkString(",")}: $e"
              (1, false)
          }
        recs += Rec(op.kind, t0, System.nanoTime(), op.tables, attempts, ok)
      }
    }

    def reset(): Unit = { recs.clear(); loads.clear(); requests = 0 }
  }

  /** A measured window over all clients at once. */
  final case class Window(recs: Seq[Rec], loads: Seq[(Long, Long, Int)], wallS: Double,
      requests: Long, gcMs: Long, bytes: Long)

  private def window(h: CatalogHandle, clients: Seq[Client], seconds: Double, maxOps: Int): Window = {
    clients.foreach(_.reset())
    val gc0 = Jvm.gcMs
    val bytes0 = h.bytesOnDisk
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = clients.map(c => new Thread(() => c.run(deadline, maxOps)))
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    Window(clients.flatMap(_.recs), clients.flatMap(_.loads), wall,
      clients.map(_.requests).sum, Jvm.gcMs - gc0, h.bytesOnDisk - bytes0)
  }

  def run(conf: Conf): Outcome = {
    val sh = shape(conf)
    val trace = new Trace(conf.trace)
    val snaps = histories(sh)
    val clientsN = conf.nproc
    val reps = 3

    // Set-up, repeated on fresh state: Derby store + server + seeded
    // histories. Only the last one is kept for the run.
    var handle: CatalogHandle = null
    val setupTimes = (1 to reps).map { rep =>
      if (handle != null) { handle.stop(); Files2.deleteTree(handle.dir) }
      val (_, s) = Timer.secs {
        handle = new CatalogHandle(Files.createDirectories(conf.work.resolve(s"catalog$rep")), trace)
        val h = handle
        val pool = java.util.concurrent.Executors.newFixedThreadPool(clientsN)
        try snaps.indices.map(i => pool.submit(() =>
            History.seed(h, tableName(i), snaps(i), new java.util.Random(conf.seed * 1009 + i))))
          .foreach(_.get())
        finally pool.shutdown()
      }
      s
    }
    val h = handle
    val acked = new AtomicLongArray(sh.tables)
    val snapIds = new AtomicLong(1000000000L)
    val clients = (0 until clientsN).map(c => new Client(h, operations(sh, conf.seed, c, 1 << 15),
      acked, snapIds, new java.util.Random(conf.seed * 131 + c)))

    // Warm-up: a fixed amount of the same traffic, untimed.
    trace.on = false
    val (_, warmS) = Timer.secs(window(h, clients, 60, sh.warmupOps))
    val setupS = Stats.median(setupTimes) + warmS

    val loadAvgPre = Jvm.loadAvg
    val plain = window(h, clients, if (conf.trace) conf.seconds / 2 else conf.seconds, Int.MaxValue)
    val traced = if (!conf.trace) None else {
      trace.clear(); trace.on = true
      val w = window(h, clients, conf.seconds / 2, Int.MaxValue)
      trace.on = false
      Some(w)
    }
    val loadAvgPost = Jvm.loadAvg

    // Output checks over every table: ConcurrentCommitSpec invariants.
    val finals = (0 until sh.tables).map(i =>
      h.raw.loadTable(h.wh, TableIdent(History.Namespace, tableName(i))).fold(e => throw e, _.metadata))
    val expected = (0 until sh.tables).map(i => snaps(i) + acked.get(i) + (if (conf.corrupt && i == 0) 1 else 0))
    val bad = finals.indices.flatMap(i => History.violations(tableName(i), finals(i), expected(i)))
    val errors = clients.flatMap(_.errors)
    val checks = Seq(
      ("history", bad.isEmpty, if (bad.isEmpty) s"${sh.tables} tables linear, gap-free, counts match"
        else bad.take(3).mkString("; ")),
      ("errors", errors.isEmpty, errors.take(2).mkString("; ")))

    val w = plain
    val ok = w.recs.filter(_.ok)
    def lat(k: Int) = ok.filter(_.kind == k).map(_.ms)
    val loadMs = w.loads.map { case (a, b, _) => (b - a) / 1e6 }
    val named = Seq.newBuilder[Named]
    named += Named("setup_s", setupS, "s", reps)
    named += Named("ops_per_s", ok.size / w.wallS, "1/s", ok.size)
    named += Named("failed_ratio", w.recs.count(!_.ok).toDouble / math.max(1, w.recs.size), "ratio", w.recs.size)
    named += Named("load_ms_p50", Stats.median(loadMs), "ms", loadMs.size, Some(50))
    if (conf.workload == "catalog_read") {
      val (p, v) = Stats.capped(loadMs, 99)
      named += Named("load_ms_p99", v, "ms", loadMs.size, Some(p))
    }
    named += Named("commit_ms_p50", Stats.median(lat(CommitK)), "ms", lat(CommitK).size, Some(50))
    if (conf.workload == "catalog_commit") {
      val (p, v) = Stats.capped(lat(CommitK), 90)
      named += Named("commit_ms_p90", v, "ms", lat(CommitK).size, Some(p))
      named += Named("txn_ms_p50", Stats.median(lat(TxnK)), "ms", lat(TxnK).size, Some(50))
    }

    val detail = Json.obj()
    detail.put("tables", sh.tables)
    detail.put("seeded_snapshots", snaps.map(_.toLong).sum)
    detail.put("acked_commits", (0 until sh.tables).map(acked.get).sum)
    detail.put("clients", clientsN)
    detail.put("retry_budget", RetryBudget)
    detail.put("metadata_mb_total", finals.map(m => JsonCodecs.metadataToJson(m).length.toLong).sum / 1048576.0)
    detail.put("load_avg_pre", loadAvgPre)
    detail.put("load_avg_post", loadAvgPost)
    val st = detail.putArray("setup_reps_s"); setupTimes.foreach(st.add)
    detail.put("warmup_s", warmS)
    val perTable = detail.putArray("tables_loaded")
    w.loads.groupBy(_._3).toSeq.sortBy(-_._2.size).foreach { case (t, ls) =>
      perTable.addObject().put("table", tableName(t)).put("snapshots", snaps(t)).put("loads", ls.size)
        .put("load_ms_p50", Stats.median(ls.map { case (a, b, _) => (b - a) / 1e6 }))
    }

    val layers = traced.map(t => layerMetrics(conf, h, trace, t, w, finals, clientsN)).getOrElse(Map.empty)
    if (conf.trace) detail.set("spans", trace.toJson())
    h.stop()
    Outcome(setupS, ok.size / w.wallS, ok.map(_.ms), w.recs.size.toLong, w.recs.count(!_.ok).toLong,
      named.result(), layers, checks, detail)
  }

  /** Per-layer figures of the traced half-window `w`; `plain` is the
    * untraced half, for the tracing overhead. */
  private def layerMetrics(conf: Conf, h: CatalogHandle, trace: Trace, w: Window, plain: Window,
      finals: Seq[TableMetadata], clients: Int): Map[String, Double] = {
    val spans = trace.all
    val loadSpans = spans.filter(_.name == "catalog.loadTable")
    val commitSpans = spans.filter(s => s.name == "catalog.commitTable" || s.name == "catalog.commitTransaction")
    val ok = w.recs.filter(_.ok)

    // Self time of the server hop per operation type: client-observed
    // time minus the store spans of the same tables inside the op's
    // interval. Each span is claimed by at most one op, and an op claims
    // no more spans than its own requests make: per attempt, a load makes
    // one store load; an append two (the client's load, the server's
    // pre-commit load) and one commit; a transaction one load per table
    // and one transaction commit.
    val byKey = spans.filter(_.name.startsWith("catalog.")).groupBy(s => (s.name, s.key))
      .view.mapValues(_.sortBy(_.startNs).toArray).toMap
    val claimed = scala.collection.mutable.HashSet.empty[Long]
    val selfMs = w.recs.sortBy(_.t1).map { r =>
      val names = r.tables.map(tableName).toSeq
      val wanted: Seq[((String, String), Int)] = r.kind match {
        case LoadK => Seq(("catalog.loadTable", names.head) -> 1)
        case CommitK => Seq(("catalog.loadTable", names.head) -> 2 * r.attempts,
          ("catalog.commitTable", names.head) -> r.attempts)
        case _ => names.map(n => ("catalog.loadTable", n) -> r.attempts) :+
          (("catalog.commitTransaction", names.mkString(",")) -> r.attempts)
      }
      val inside = wanted.flatMap { case (k, n) =>
        byKey.getOrElse(k, Array.empty[trace.Span]).iterator
          .filter(s => s.startNs >= r.t0 && s.endNs <= r.t1 && !claimed.contains(s.id)).take(n).toSeq
      }
      inside.foreach(s => claimed += s.id)
      r.kind -> (r.ms - inside.map(_.ms).sum)
    }
    def self(k: Int) = Stats.median(selfMs.filter(_._1 == k).map(_._2))

    val responseKb = finals.map { m =>
      RestCodecs.loadTableResponse(graft.catalog.TableRecord(m.tableUuid, History.Namespace, "t", m,
        Some("x"), m.location)).length / 1024.0
    }
    val loadResponseKb = w.loads.map { case (_, _, t) => responseKb(t) }

    val logical = w.recs.filter(_.kind != LoadK)
    val commitRequests = logical.map(_.attempts).sum
    val serverPreloads = loadSpans.size - w.loads.size
    val okCommits = logical.count(_.ok)
    LayerProbe.storeAndCore(h, trace, finals, w.wallS, clients) ++ Map(
      "server.self_ms_p50.load" -> self(LoadK),
      "server.self_ms_p50.commit" -> self(CommitK),
      "server.self_ms_p50.txn" -> self(TxnK),
      "server.response_kb_p50" -> Stats.median(loadResponseKb),
      "server.requests_per_op" -> w.requests.toDouble / math.max(1, w.recs.size),
      "catalog.calls_per_commit_request" ->
        (serverPreloads + commitSpans.size).toDouble / math.max(1, commitRequests),
      "catalog.commit_success_ratio" -> okCommits.toDouble / math.max(1, commitRequests),
      "catalog.retries_per_commit" -> (commitRequests - logical.size).toDouble / math.max(1, logical.size),
      "catalog.bytes_written_per_commit" -> w.bytes.toDouble / math.max(1, okCommits),
      "jvm.gc_ms_per_s" -> w.gcMs / w.wallS,
      "jvm.heap_mb_after_run" -> Jvm.heapMbAfterGc,
      "trace.overhead_ratio" -> (ok.size / w.wallS) / (plain.recs.count(_.ok) / plain.wallS))
  }
}
