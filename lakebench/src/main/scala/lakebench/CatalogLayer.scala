package lakebench

import graft.catalog._
import graft.core._
import graft.engine.RestCatalogClient
import graft.server.CatalogServer
import graft.service.{AuthZHandler, Principal, TokenVerifier}

import java.nio.file.{Files, Path}
import java.util.UUID

/** [[CatalogStore]] that records one span per call into the store, so the
  * harness sees the `catalog` layer without any change to the program.
  * Span name `catalog.<method>`, key = table name where there is one. */
final class TracingStore(inner: CatalogStore, trace: Trace) extends CatalogStore {
  private def t[A](m: String, key: String = "")(body: => A): A = trace.span(s"catalog.$m", key)(body)

  def createWarehouse(projectId: UUID, name: String, location: String,
      properties: Map[String, String]): Either[CatalogError, Warehouse] =
    t("createWarehouse")(inner.createWarehouse(projectId, name, location, properties))
  def listWarehouses(projectId: UUID, includeInactive: Boolean): Seq[Warehouse] =
    t("listWarehouses")(inner.listWarehouses(projectId, includeInactive))
  def getWarehouse(id: UUID): Either[CatalogError, Warehouse] = t("getWarehouse")(inner.getWarehouse(id))
  def warehouseByName(projectId: UUID, name: String): Either[CatalogError, Warehouse] =
    t("warehouseByName")(inner.warehouseByName(projectId, name))
  def deleteWarehouse(id: UUID): Either[CatalogError, Unit] = t("deleteWarehouse")(inner.deleteWarehouse(id))
  def renameWarehouse(id: UUID, newName: String): Either[CatalogError, Warehouse] =
    t("renameWarehouse")(inner.renameWarehouse(id, newName))
  def setWarehouseActive(id: UUID, active: Boolean): Either[CatalogError, Warehouse] =
    t("setWarehouseActive")(inner.setWarehouseActive(id, active))
  def setWarehouseProperties(id: UUID, props: Map[String, String]): Either[CatalogError, Warehouse] =
    t("setWarehouseProperties")(inner.setWarehouseProperties(id, props))
  def listProjects(): Seq[UUID] = t("listProjects")(inner.listProjects())

  def createNamespace(wh: UUID, name: Seq[String], props: Map[String, String])
      : Either[CatalogError, NamespaceRecord] = t("createNamespace")(inner.createNamespace(wh, name, props))
  def listNamespaces(wh: UUID, parent: Option[Seq[String]]): Either[CatalogError, Seq[Seq[String]]] =
    t("listNamespaces")(inner.listNamespaces(wh, parent))
  def getNamespace(wh: UUID, name: Seq[String]): Either[CatalogError, NamespaceRecord] =
    t("getNamespace")(inner.getNamespace(wh, name))
  def namespaceExists(wh: UUID, name: Seq[String]): Either[CatalogError, Boolean] =
    t("namespaceExists")(inner.namespaceExists(wh, name))
  def dropNamespace(wh: UUID, name: Seq[String]): Either[CatalogError, Unit] =
    t("dropNamespace")(inner.dropNamespace(wh, name))
  def updateNamespaceProperties(wh: UUID, name: Seq[String], removals: Seq[String],
      updates: Map[String, String]): Either[CatalogError, PropertyUpdateResult] =
    t("updateNamespaceProperties")(inner.updateNamespaceProperties(wh, name, removals, updates))

  def createTable(wh: UUID, ns: Seq[String], name: String, schema: Schema,
      spec: UnboundPartitionSpec, sortOrder: Option[SortOrder], props: Map[String, String],
      stageCreate: Boolean, timestampMs: Long, formatVersion: Int): Either[CatalogError, TableRecord] =
    t("createTable", name)(inner.createTable(wh, ns, name, schema, spec, sortOrder, props,
      stageCreate, timestampMs, formatVersion))
  def registerTable(wh: UUID, ns: Seq[String], name: String, metadata: TableMetadata,
      metadataLocation: String): Either[CatalogError, TableRecord] =
    t("registerTable", name)(inner.registerTable(wh, ns, name, metadata, metadataLocation))
  def loadTable(wh: UUID, ident: TableIdent): Either[CatalogError, TableRecord] =
    t("loadTable", ident.name)(inner.loadTable(wh, ident))
  def tableExists(wh: UUID, ident: TableIdent): Either[CatalogError, Boolean] =
    t("tableExists", ident.name)(inner.tableExists(wh, ident))
  def listTables(wh: UUID, ns: Seq[String]): Either[CatalogError, Seq[TableIdent]] =
    t("listTables")(inner.listTables(wh, ns))
  def dropTable(wh: UUID, ident: TableIdent): Either[CatalogError, Unit] =
    t("dropTable", ident.name)(inner.dropTable(wh, ident))
  def renameTable(wh: UUID, source: TableIdent, dest: TableIdent): Either[CatalogError, Unit] =
    t("renameTable", source.name)(inner.renameTable(wh, source, dest))
  override def commitTable(wh: UUID, ident: TableIdent, requirements: Seq[TableRequirement],
      updates: Seq[TableUpdate], timestampMs: Long): Either[CatalogError, TableRecord] =
    t("commitTable", ident.name)(inner.commitTable(wh, ident, requirements, updates, timestampMs))
  def commitTransaction(wh: UUID, changes: Seq[TableChange], timestampMs: Long)
      : Either[CatalogError, Seq[TableRecord]] =
    t("commitTransaction", changes.map(_.ident.name).mkString(","))(
      inner.commitTransaction(wh, changes, timestampMs))
  def tableByLocation(wh: UUID, location: String): Either[CatalogError, TableRecord] =
    t("tableByLocation")(inner.tableByLocation(wh, location))

  def createView(wh: UUID, ns: Seq[String], name: String, schema: Schema, version: ViewVersion,
      props: Map[String, String], timestampMs: Long): Either[CatalogError, ViewRecord] =
    t("createView", name)(inner.createView(wh, ns, name, schema, version, props, timestampMs))
  def loadView(wh: UUID, ident: TableIdent): Either[CatalogError, ViewRecord] =
    t("loadView", ident.name)(inner.loadView(wh, ident))
  def viewExists(wh: UUID, ident: TableIdent): Either[CatalogError, Boolean] =
    t("viewExists", ident.name)(inner.viewExists(wh, ident))
  def listViews(wh: UUID, ns: Seq[String]): Either[CatalogError, Seq[TableIdent]] =
    t("listViews")(inner.listViews(wh, ns))
  def dropView(wh: UUID, ident: TableIdent): Either[CatalogError, Unit] =
    t("dropView", ident.name)(inner.dropView(wh, ident))
  def renameView(wh: UUID, source: TableIdent, dest: TableIdent): Either[CatalogError, Unit] =
    t("renameView", source.name)(inner.renameView(wh, source, dest))
  def commitView(wh: UUID, ident: TableIdent, requirements: Seq[ViewRequirement],
      updates: Seq[ViewUpdate], timestampMs: Long): Either[CatalogError, ViewRecord] =
    t("commitView", ident.name)(inner.commitView(wh, ident, requirements, updates, timestampMs))
}

/** A running catalog: embedded Derby store (the store `ServerMain` uses),
  * a warehouse under `dir`, and an in-process [[CatalogServer]]. The
  * server counts every authenticated request (`server.requests`) and
  * every table-level request by operation (`server.table_op.<op>`)
  * through its own auth hooks, so no proxy sits on the HTTP hop. */
final class CatalogHandle(val dir: Path, trace: Trace) {
  val derbyDir: Path = dir.resolve("derby")
  val whDir: Path = Files.createDirectories(dir.resolve("wh"))
  val raw: JdbcCatalogStore = JdbcCatalogStore.embedded(derbyDir)
  val store: CatalogStore = if (trace.armed) new TracingStore(raw, trace) else raw
  private val project = UUID.nameUUIDFromBytes(dir.toString.getBytes("UTF-8"))
  val server: CatalogServer = new CatalogServer(store, project,
    auth = new TokenVerifier {
      def verify(bearer: Option[String]): Either[CatalogError, Principal] = {
        trace.count("server.requests")
        TokenVerifier.AllowAnonymous.verify(bearer)
      }
    },
    authz = new AuthZHandler {
      def checkNamespaceOp(wh: UUID, op: String, ns: Seq[String]): Either[CatalogError, Unit] =
        AuthZHandler.AllowAll.checkNamespaceOp(wh, op, ns)
      def checkTableOp(wh: UUID, op: String, ident: TableIdent): Either[CatalogError, Unit] = {
        trace.count(s"server.table_op.$op")
        AuthZHandler.AllowAll.checkTableOp(wh, op, ident)
      }
      def checkWarehouseOp(projectId: UUID, op: String): Either[CatalogError, Unit] =
        AuthZHandler.AllowAll.checkWarehouseOp(projectId, op)
    }).start()
  val whLocation: String = whDir.toUri.toString.stripSuffix("/")
  val wh: UUID = raw.createWarehouse(project, "wh", whLocation)
    .fold(e => throw e, identity).id
  raw.createNamespace(wh, History.Namespace, Map.empty).fold(e => throw e, identity)
  val prefix: String = new RestCatalogClient(server.baseUri).config("wh")

  def bytesOnDisk: Long = Files2.du(derbyDir) + Files2.du(whDir)

  def stop(): Unit = {
    server.stop()
    try java.sql.DriverManager.getConnection(s"jdbc:derby:${derbyDir.toAbsolutePath};shutdown=true")
    catch { case _: java.sql.SQLException => () } // Derby signals a clean shutdown by throwing
  }
}

/** Long table histories built in memory and registered in one store call
  * per table, instead of replaying one commit per snapshot. */
object History {
  import IType._

  val Namespace: Seq[String] = Seq("bench")
  val T0 = 1700000000000L

  /** A lineitem-shaped schema, so each document carries a real schema. */
  val schema: Schema = Schema(0, Seq(
    NestedField.required(1, "l_orderkey", TLong), NestedField.required(2, "l_partkey", TLong),
    NestedField.required(3, "l_suppkey", TLong), NestedField.required(4, "l_linenumber", TInt),
    NestedField.optional(5, "l_quantity", TDouble), NestedField.optional(6, "l_extendedprice", TDouble),
    NestedField.optional(7, "l_discount", TDouble), NestedField.optional(8, "l_tax", TDouble),
    NestedField.optional(9, "l_returnflag", TString), NestedField.optional(10, "l_linestatus", TString),
    NestedField.optional(11, "l_shipdate", TTimestamp), NestedField.optional(12, "l_comment", TString)))

  /** Iceberg's standard append summary for snapshot `k` of a table. */
  def summary(k: Long, rnd: java.util.Random, totalRecords: Long): Map[String, String] = {
    val files = 1 + rnd.nextInt(8)
    val records = files * (1000L + rnd.nextInt(50000))
    Map(
      "operation" -> "append",
      "added-data-files" -> files.toString,
      "added-records" -> records.toString,
      "added-files-size" -> (records * 37).toString,
      "total-records" -> (totalRecords + records).toString,
      "total-files-size" -> ((totalRecords + records) * 37).toString,
      "total-data-files" -> (k * 4).toString,
      "total-delete-files" -> "0")
  }

  /** Metadata of a table with `n` linear snapshots (ids and sequence
    * numbers 1..n), its snapshot log and a metadata log of n-1 entries. */
  def metadata(location: String, n: Int, rnd: java.util.Random): TableMetadata = {
    val uuid = new UUID(rnd.nextLong(), rnd.nextLong())
    val base = TableMetadataBuilder.newTable(uuid, location, schema, T0)
      .flatMap(_.build()).fold(e => sys.error(e.message), identity)
    var total = 0L
    val snaps = (1 to n).map { k =>
      val s = summary(k, rnd, total)
      total = s("total-records").toLong
      Snapshot(k.toLong, if (k == 1) None else Some(k - 1L), k.toLong, T0 + k * 60000L,
        s"$location/metadata/snap-$k-1-$uuid.avro", s, Some(0))
    }
    base.copy(
      lastSequenceNumber = n.toLong,
      lastUpdatedMs = T0 + n * 60000L,
      currentSnapshotId = Some(n.toLong),
      snapshots = snaps.map(s => s.snapshotId -> s).toMap,
      snapshotLog = snaps.map(s => SnapshotLogEntry(s.snapshotId, s.timestampMs)),
      metadataLog = (1 until n).map(k =>
        MetadataLogEntry(f"$location/metadata/$k%05d-${new UUID(uuid.getMostSignificantBits, k.toLong)}.gz.metadata.json",
          T0 + k * 60000L)),
      refs = Map(TableMetadata.MainBranch -> SnapshotReference(n.toLong, SnapshotRefType.Branch)))
  }

  /** Registers `name` with an `n`-snapshot history; returns its metadata. */
  def seed(h: CatalogHandle, name: String, n: Int, rnd: java.util.Random): TableMetadata = {
    val loc = s"${h.whLocation}/bench/$name"
    val m = metadata(loc, n, rnd)
    val metaLoc = s"$loc/metadata/00000-${m.tableUuid}.gz.metadata.json"
    MetadataIO.write(metaLoc, m)
    h.raw.registerTable(h.wh, Namespace, name, m, metaLoc).fold(e => throw e, _ => m)
  }

  /** The `ConcurrentCommitSpec` invariants over one table: linear
    * history, gap-free sequence numbers, and exactly `expected`
    * snapshots. Returns the violations found. */
  def violations(name: String, m: TableMetadata, expected: Long): Seq[String] = {
    val out = Seq.newBuilder[String]
    if (m.snapshots.size != expected)
      out += s"$name: ${m.snapshots.size} snapshots, expected $expected"
    val seqs = m.snapshots.values.map(_.sequenceNumber).toSeq.sorted
    if (seqs != (1L to m.snapshots.size.toLong) || m.lastSequenceNumber != m.snapshots.size)
      out += s"$name: sequence numbers are not 1..${m.snapshots.size}"
    val log = m.snapshotLog.map(_.snapshotId)
    val parents = log.map(id => m.snapshots.get(id).flatMap(_.parentSnapshotId))
    if (log.distinct.size != log.size || log.size != m.snapshots.size ||
        parents.headOption.exists(_.isDefined) || parents.drop(1) != log.dropRight(1).map(Some(_)))
      out += s"$name: snapshot history is not linear"
    if (m.currentSnapshotId != log.lastOption || m.refs.get("main").map(_.snapshotId) != log.lastOption)
      out += s"$name: main does not point at the newest snapshot"
    out.result()
  }
}

/** Layer readings every workload with a catalog takes the same way. */
object LayerProbe {
  /** `server.rtt_ms_p50`: `GET /health` round trips, the HTTP hop with
    * no store work; the store spans of the traced window (`catalog.*`);
    * and `core.*`, the codecs and the commit fold micro-timed on this
    * run's own metadata documents `finals`. */
  def storeAndCore(h: CatalogHandle, trace: Trace, finals: Seq[TableMetadata], wallS: Double,
      clients: Int): Map[String, Double] = {
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val http = HttpClient.newHttpClient()
    val health = HttpRequest.newBuilder(URI.create(s"${h.server.baseUri}/health")).GET().build()
    (1 to 20).foreach(_ => http.send(health, HttpResponse.BodyHandlers.discarding()))
    val rtt = (1 to 100).map { _ =>
      val t0 = System.nanoTime()
      http.send(health, HttpResponse.BodyHandlers.discarding())
      (System.nanoTime() - t0) / 1e6
    }

    val spans = trace.all.filter(_.name.startsWith("catalog."))
    val loads = spans.filter(_.name == "catalog.loadTable").map(_.ms)
    val commits = spans.filter(s => s.name == "catalog.commitTable" || s.name == "catalog.commitTransaction").map(_.ms)

    val docs = finals.map(JsonCodecs.metadataToJson)
    val mb = docs.map(_.length.toLong).sum / 1048576.0
    def perMb(body: => Unit): Double = {
      var n = 0; val t0 = System.nanoTime()
      while (n < 3 || System.nanoTime() - t0 < 300e6) { body; n += 1 }
      (System.nanoTime() - t0) / 1e6 / n / mb
    }
    val applyMs = finals.flatMap { m =>
      val id = m.snapshots.keys.foldLeft(0L)(math.max) + 1
      val ups = Seq(TableUpdate.AddSnapshot(Snapshot(id, m.currentSnapshotId, m.lastSequenceNumber + 1,
        m.lastUpdatedMs + 1, "x.avro", Map("operation" -> "append"), Some(m.currentSchemaId))),
        TableUpdate.SetSnapshotRef("main", id, SnapshotRefType.Branch))
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        TableMetadataBuilder.from(m).applyAll(ups).flatMap(_.build())
        (System.nanoTime() - t0) / 1e6
      }
    }
    Map(
      "server.rtt_ms_p50" -> Stats.median(rtt),
      "catalog.load_ms_p50" -> Stats.median(loads),
      "catalog.load_ms_p99" -> Stats.capped(loads, 99)._2,
      "catalog.commit_ms_p50" -> Stats.median(commits),
      "catalog.commit_ms_p90" -> Stats.capped(commits, 90)._2,
      "catalog.busy_ratio" -> spans.map(_.ms).sum / (wallS * 1000 * clients),
      "catalog.metadata_kb_p50" -> Stats.median(docs.map(_.length / 1024.0)),
      "catalog.metadata_kb_max" -> docs.map(_.length / 1024.0).max,
      "core.decode_ms_per_mb" -> perMb(docs.foreach(d => JsonCodecs.metadataFromJson(d))),
      "core.encode_ms_per_mb" -> perMb(finals.foreach(JsonCodecs.metadataToJson)),
      "core.apply_ms_p50" -> Stats.median(applyMs))
  }
}
