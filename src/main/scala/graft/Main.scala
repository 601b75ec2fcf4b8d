package graft

import java.nio.file.{Path, Paths}
import java.util.concurrent.CountDownLatch

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.config.ConfigFile
import graft.sinks.{Sinks, SseServer, WsServer}
import graft.sources.Sources
import graft.streaming.SEvent

/** The deployable process entry point — the `bin.clj` equivalent
  * (reference src/riemann/bin.clj:135-167 `-main`): load a config
  * file, start Core + servers, install the SIGHUP reload hook, block.
  *
  * Commands (mirroring bin.clj's):
  *   - `graft.Main <config.json>` / `graft.Main start <config.json>`
  *   - `graft.Main version`
  *
  * The config file is the [[ConfigFile]] surface (streams/include)
  * plus a root `servers` object. SIGHUP reloads BOTH: stream topology
  * through the transition!/equiv? lifecycle, and server blocks by
  * salting each stream's signature with its server block's canonical
  * JSON — an edited block (port, TLS) restarts exactly the streams
  * bound to it, whose source stop()/rebind closes the old socket and
  * adopts its parked frames (the reference restarts non-equiv
  * services on reload, core.clj:105-161; r16 closes that delta):
  *
  * {{{
  * { "servers": {
  *     "tcp":      {"host": "127.0.0.1", "port": 5555},
  *     "udp":      {"host": "127.0.0.1", "port": 5555},
  *     "graphite": {"host": "127.0.0.1", "port": 2003},
  *     "opentsdb": {"host": "127.0.0.1", "port": 4242},
  *     "ws":       {"port": 5556},
  *     "sse":      {"port": 5557} },
  *   "modelsKeep": {"root": "/var/lib/graft/models",
  *                  "keepPerKind": 3, "intervalSeconds": 3600},
  *   "streams": [
  *     {"name": "index", "source": "tcp",
  *      "pipeline": [{"op": "index"}],
  *      "sink": {"kind": "index", "checkpoint": "/var/lib/graft/ckpt"}}
  * ]}
  * }}}
  *
  * Ingest servers register as config sources by name (`tcp`, `udp`,
  * `graphite`, `opentsdb`); the `index` sink kind feeds the served
  * in-memory index that the ws/sse query surfaces answer from
  * (`GET /index?query=…`).
  *
  * Several streams may name the same server source — the reference's
  * core fan-out semantic (every registered stream sees every event,
  * core.clj:15-20). The [[ConfigFile.Loader]] consumes each shared
  * source with ONE tee query (one server instance, one bind) and fans
  * micro-batches out to per-stream spools, so each stream still runs
  * as a full StreamingQuery with its own state and checkpoint. The
  * name a server block registers under doubles as its source name.
  */
object Main {

  val Version = "riemann-capability engine (Spark) 0.11"

  /** The served riemann index: latest event per (host, service),
    * updated from the `index`-sink stream (IndexProcessor upserts +
    * `state="expired"` tombstones), answering snapshot dumps and query
    * filters for the ws/sse servers.
    *
    * Driver-side by design, like the reference's index — an in-memory
    * map on the serving node (index.clj:58-126 nbhm-index). The
    * per-batch collect is bounded by the keys the batch UPDATED (the
    * index stream emits latest-per-key, never raw volume), and the map
    * itself by index cardinality — the same RAM contract the reference
    * runs under. */
  final class ServedIndex(spark: SparkSession) {
    private val state = TrieMap[(String, String), graft.streaming.WireEvent]()
    // whether the feeding stream ever carried tags/attributes columns:
    // dumps must render the same JSON shape the per-batch pushes use
    // (6-column feeds push without tags/attributes keys)
    @volatile private var wireShape = false

    val sink: Sinks.EventSink = new Sinks.EventSink {
      override def write(batch: DataFrame, batchId: Long): Unit = {
        val spark0 = batch.sparkSession
        import spark0.implicits._
        // the whole-event index stream carries tags and attributes
        // (the reference index stores whole events); a plain SEvent
        // feed stores empty ones
        val tagsExpr =
          if (batch.columns.contains("tags"))
            "coalesce(tags, array())" else "array()"
        val attrsExpr =
          if (batch.columns.contains("attributes"))
            "coalesce(attributes, cast(map() as map<string,string>))"
          else "cast(map() as map<string,string>)"
        if (batch.columns.contains("tags") ||
          batch.columns.contains("attributes")) wireShape = true
        batch.selectExpr("host", "service", "state", "metric", "time",
            "ttl", s"$tagsExpr AS tags", s"$attrsExpr AS attributes")
          .as[graft.streaming.WireEvent].collect()
          .foreach { e =>
            if (e.state == "expired") state.remove((e.host, e.service))
            else state((e.host, e.service)) = e
          }
      }
    }

    /** The whole-event relation the serving path answers from — the
      * Catalyst parity oracle for [[search]] (tagged/attribute queries
      * included). */
    def snapshot: DataFrame = {
      import spark.implicits._
      spark.createDataset(state.values.toSeq).toDF()
    }

    /** Dump rendering matching the push-line shape: whole-event JSON
      * when the feed carries tags/attributes columns, the plain
      * 6-field shape otherwise — one format per connection. */
    def dumpLine(e: graft.streaming.WireEvent): String =
      if (wireShape) graft.sinks.EventJson.line(e)
      else graft.sinks.EventJson.line(e.toSEvent)

    /** The live events, for Spark-free serving (ws/sse dumps, the wire
      * handler, specs). A TrieMap iterator is a weakly-consistent O(n)
      * walk — no lock, no Spark job. */
    def events: Seq[graft.streaming.WireEvent] = state.values.toSeq

    /** Direct upsert, for probes and specs (the streaming path goes
      * through [[sink]]). */
    private[graft] def put(e: SEvent): Unit =
      putTagged(graft.streaming.WireEvent(e.host, e.service, e.state,
        e.metric, e.time, e.ttl, Seq.empty, Map.empty))

    private[graft] def putTagged(e: graft.streaming.WireEvent): Unit =
      if (e.state == "expired") { state.remove((e.host, e.service)); () }
      else state((e.host, e.service)) = e

    def size: Int = state.size

    /** Spark-free query search (transport.clj:175-189 semantics): the
      * pkey fast path for `host = "h" and service = "s"` point lookups
      * (index.clj:44-56), the LRU-cached compiled closure for
      * everything else. The Catalyst path over [[snapshot]] remains
      * the parity oracle (EventPredicateSpec / MainSpec). */
    def search(q: String): Seq[graft.streaming.WireEvent] =
      searchAst(q, graft.query.QueryLanguage.parse(q))

    private def searchAst(q: String,
        ast: graft.query.QueryLanguage.Ast)
        : Seq[graft.streaming.WireEvent] = {
      import graft.query.EventPredicate
      EventPredicate.pkeyLookup(ast) match {
        case Some(key) => state.get(key).toSeq
        case None =>
          val pred = EventPredicate.taggedForAst(q, ast)
          state.values.iterator.filter(pred).toSeq
      }
    }

    /** The riemann-wire query handler: parse the query language, serve
      * from the in-memory index via [[search]] — NO Spark job on the
      * serving path. Parse failures reply `parse error: …` like the
      * reference. */
    def queryHandler: String => Either[String, Seq[
        graft.sources.RiemannProtobuf.PEvent]] = q => {
      import graft.query.QueryLanguage
      import graft.sources.RiemannProtobuf.PEvent
      (try Right(QueryLanguage.parse(q))
      catch { case NonFatal(e) => Left(s"parse error: ${e.getMessage}") })
        .flatMap { ast =>
          try Right(searchAst(q, ast).map(e => PEvent(e.host, e.service, e.state,
            null, e.metric, Option(e.tags).getOrElse(Nil),
            Some(e.time.getTime / 1000L), e.ttl,
            Option(e.attributes).getOrElse(Map.empty))))
          catch {
            case NonFatal(e) => Left(String.valueOf(e.getMessage))
          }
        }
    }
  }

  /** A started process: the handle `main` blocks on and specs drive. */
  final class Running(
      val spark: SparkSession,
      val core: Core,
      val loader: ConfigFile.Loader,
      val pubsub: Sinks.Pubsub,
      val index: ServedIndex,
      path: Path) {
    private[Main] val done = new CountDownLatch(1)
    private var ws: Option[WsServer] = None
    private var sse: Option[SseServer] = None
    private var wsSpec: String = ""
    private var sseSpec: String = ""
    private var queryPorts: Set[Int] = Set.empty
    // model-artifact retention (r17 VERDICT #8): the store writes one
    // directory per config hash forever under config churn; a
    // long-running deployment self-prunes on the configured cadence
    private var pruneSpec: String = ""
    private var pruneTask: Option[java.util.concurrent.ScheduledFuture[_]] = None
    // whether the lazy scheduler was ever instantiated: stop() must
    // shut it down even when a reload has since removed the modelsKeep
    // block (pruneSpec empty again) — otherwise the daemon prune
    // thread outlives Running.stop() until JVM exit (r18 ADVICE)
    private var pruneSchedulerStarted = false
    private lazy val pruneScheduler = {
      pruneSchedulerStarted = true
      val s = new java.util.concurrent.ScheduledThreadPoolExecutor(1, r => {
        val t = new Thread(r, "graft-models-prune"); t.setDaemon(true); t
      })
      s.setExecuteExistingDelayedTasksAfterShutdownPolicy(false); s
    }
    /** Deleted-artifact counter, for specs and ops visibility. */
    @volatile private[graft] var prunedCount: Long = 0L
    def wsServer: Option[WsServer] = synchronized(ws)
    def sseServer: Option[SseServer] = synchronized(sse)

    /** Full server-aware reload — what SIGHUP drives (bin.clj:39-77 +
      * core.clj:105-161's restart of non-equiv services). Re-reads the
      * file, rebuilds the ingest-server source thunks, and salts each
      * stream's signature with the canonical JSON of its server block:
      * editing a server block (port, TLS material) makes exactly the
      * streams bound to it non-equiv, and their restart is what
      * rebinds the socket — the old query's source stop() closes the
      * listen socket and parks its undrained frames, the new query's
      * source binds the edited address and adopts them (the
      * RiemannServers handoff). ws/sse restart only when their own
      * block changed; wire query handlers follow the current tcp
      * ports. A malformed file throws before any running state is
      * touched (thunks and specs are extracted eagerly first), so a
      * failed reload keeps the old topology — the reference's
      * catch-and-log reload contract. */
    def reload(): Seq[String] = synchronized {
      val doc = JsonMethods.parse(
        java.nio.file.Files.readString(path.toRealPath()))
      val blocks = serverBlocks(doc)
      // everything throw-prone happens before any mutation
      val thunks = ingestSources(spark, blocks)
      val salts = blocks.map { case (n, o) =>
        n -> ("#server:" + JsonMethods.compact(JsonMethods.render(o)))
      }.toMap
      val newWs = blocks.collectFirst { case ("ws", o) => o }
      val newSse = blocks.collectFirst { case ("sse", o) => o }
      // riemann-wire index queries (transport.clj:175-181): every tcp
      // ingest server answers `Msg{query}` from the served index.
      // Parsed HERE, before the first mutation below, so a malformed
      // tcp port cannot leave a half-applied reload.
      val newPorts: Set[Int] = blocks.collect {
        case (name, o) if name != "ws" && name != "sse" &&
            strOr(o \ "protocol", name) == "tcp" =>
          int(o \ "port", s"servers.$name.port")
      }.toSet
      // {"fanout": {"retentionHours": N, "replayable": ["name", ...],
      //  "dir": "<path>"}} — spool knobs for the shared-source tee.
      // `files` blocks are natively replayable (every file-source query
      // tracks its own seen-files set) and register automatically;
      // `replayable` adds host-known names on top. `dir` is read once
      // at start() (spools + tee checkpoints must stay where a
      // restarted process can find them); retention and the replayable
      // set re-apply on every reload. Parsed HERE, before any mutation,
      // and include-merged like the streams (r19 ADVICE: a fanout block
      // in an included file was silently ignored).
      val filesNames: Set[String] = blocks.collect {
        case (n, o) if n != "ws" && n != "sse" &&
            strOr(o \ "protocol", n) == "files" => n
      }.toSet
      val fanoutBlock = obj(ConfigFile.loadKey(path, "fanout"))
      val extraReplayable: Set[String] = fanoutBlock
        .map(o => ConfigFile.strings(o \ "replayable").toSet)
        .getOrElse(Set.empty)
      val newRetentionMs: Option[Long] = fanoutBlock.flatMap(o =>
        (o \ "retentionHours") match {
          case JNothing => None
          case v => Some((ConfigFile.num(v,
            "fanout.retentionHours") * 3600 * 1000).toLong)
        })
      loader.sources = thunks
      loader.sourceSignature = n => salts.getOrElse(n, "")
      loader.replayableSources = filesNames ++ extraReplayable
      // absent key reverts to the constructor default — without this a
      // reload that REMOVES retentionHours pins the last applied value
      // forever (r19 ADVICE)
      loader.retentionMs =
        newRetentionMs.getOrElse(loader.fanoutRetentionMs)
      // ws/sse dumps serve the in-memory event snapshot (Spark-free
      // path); restart only on block change so live subscribers of an
      // untouched server keep their connections
      val wsCanon = newWs.fold("")(o =>
        JsonMethods.compact(JsonMethods.render(o)))
      if (wsCanon != wsSpec) {
        ws.foreach(s => try s.stop() catch { case NonFatal(_) => () })
        ws = newWs.map(o =>
          new WsServer(pubsub, int(o \ "port", "servers.ws.port"),
            host = hostOf(o), snapshotEvents = () => Some(index.events),
            dumpLine = index.dumpLine))
        wsSpec = wsCanon
      }
      val sseCanon = newSse.fold("")(o =>
        JsonMethods.compact(JsonMethods.render(o)))
      if (sseCanon != sseSpec) {
        sse.foreach(s => try s.stop() catch { case NonFatal(_) => () })
        sse = newSse.map(o =>
          new SseServer(pubsub, int(o \ "port", "servers.sse.port"),
            host = hostOf(o), snapshotEvents = () => Some(index.events),
            dumpLine = index.dumpLine))
        sseSpec = sseCanon
      }
      (queryPorts -- newPorts)
        .foreach(graft.sources.RiemannServers.unregisterQueryHandler)
      (newPorts -- queryPorts).foreach(p =>
        graft.sources.RiemannServers.registerQueryHandler(p,
          index.queryHandler))
      queryPorts = newPorts
      // {"modelsKeep": {"root": "<dir>", "keepPerKind": N,
      //  "intervalSeconds": N}} — prune once now and then on the
      // cadence; absent block = no automatic pruning (Models.main's
      // list/prune CLI remains the manual path). Reconfigured only on
      // block change, like ws/sse.
      val newPrune = obj(doc \ "modelsKeep")
      val pruneCanon = newPrune.fold("")(o =>
        JsonMethods.compact(JsonMethods.render(o)))
      if (pruneCanon != pruneSpec) {
        pruneTask.foreach(_.cancel(false))
        pruneTask = newPrune.map { o =>
          val root = strOr(o \ "root", new org.apache.hadoop.fs.Path(
            graft.pipeline.Models.defaultRoot("x")).getParent.toString)
          val keep = (o \ "keepPerKind") match {
            case JNothing => 3
            case v => int(v, "modelsKeep.keepPerKind")
          }
          val interval = (o \ "intervalSeconds") match {
            case JNothing => 3600L
            case v => ConfigFile.num(v, "modelsKeep.intervalSeconds").toLong
          }
          val job: Runnable = () =>
            try prunedCount +=
              graft.pipeline.Models.prune(spark, root, keep).size
            catch {
              case NonFatal(e) =>
                System.err.println(s"[models] prune failed: ${e.getMessage}")
            }
          pruneScheduler.scheduleWithFixedDelay(job, 0L, interval,
            java.util.concurrent.TimeUnit.SECONDS)
        }
        pruneSpec = pruneCanon
      }
      loader.reload()
    }

    def installSighup(): Boolean = loader.installSighup(() => { reload(); () })

    def stop(): Unit = {
      try core.stop() catch { case NonFatal(_) => () }
      synchronized {
        ws.foreach(s => try s.stop() catch { case NonFatal(_) => () })
        sse.foreach(s => try s.stop() catch { case NonFatal(_) => () })
        queryPorts
          .foreach(graft.sources.RiemannServers.unregisterQueryHandler)
        pruneTask.foreach(_.cancel(false))
        if (pruneSchedulerStarted) pruneScheduler.shutdown()
      }
      done.countDown()
    }
  }

  private def obj(v: JValue): Option[JObject] = v match {
    case o: JObject => Some(o)
    case _ => None
  }
  // strict numeric extraction shares ConfigFile's accessor; strOr is
  // deliberately lenient (absent server fields default, they don't throw)
  private def int(v: JValue, what: String): Int =
    ConfigFile.num(v, what).toInt
  private def strOr(v: JValue, dflt: String): String = v match {
    case JString(s) => s
    case _ => dflt
  }
  /** Accepts the natural JSON boolean and EXACTLY "true"/"false";
    * absent means false. Anything else ("True", "yes", 1, …) throws —
    * this guards security flags like tlsclientauth, where a typo'd
    * value silently reading as false would disable client-cert
    * verification. Same strict-extraction rule as tlskeystore. */
  private def boolOf(v: JValue, what: String): Boolean = v match {
    case JBool(b) => b
    case JString("true") => true
    case JString("false") => false
    case JNothing | JNull => false
    case other => throw new IllegalArgumentException(
      s"$what: expected a boolean or \"true\"/\"false\", got " +
        JsonMethods.compact(JsonMethods.render(other)))
  }

  /** Decoded-wire columns → the SEvent shape the config ops consume
    * (plus the wire tags and attributes, which the config tag/tagged-*
    * ops and the whole-event index consume; extra columns pass through
    * `.as[SEvent]` untouched). */
  private def asSEvents(df: DataFrame): DataFrame =
    df.select(col("host"), col("service"), col("state"), col("metric"),
      timestamp_seconds(col("time_s")).as("time"), col("ttl"), col("tags"),
      col("attributes"))

  /** Assemble the process from a config file: servers, sources, Core +
    * Loader, the served index, and the ws/sse query surfaces. The
    * returned handle owns everything [[main]] blocks on. */
  def start(path: Path, spark0: Option[SparkSession] = None): Running = {
    val spark = spark0.getOrElse {
      val s = SparkSession.builder()
        .master(sys.env.getOrElse("GRAFT_MASTER", "local[*]"))
        .appName("graft")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.extensions", "graft.query.RiemannExtensions")
        .getOrCreate()
      // one state partition per core: every micro-batch opens and
      // commits one RocksDB store per shuffle partition, so a width
      // above the core count only adds task waves to the fixed
      // per-batch cost. A stream's checkpoint records the width at its
      // first start and keeps it on restart.
      s.conf.set("spark.sql.shuffle.partitions",
        sys.env.getOrElse("GRAFT_SHUFFLE_PARTITIONS",
          s.sparkContext.defaultParallelism.toString))
      s
    }
    // the index op runs on transformWithState, which needs a state
    // store with column families — RocksDB, the production store for
    // every stateful operator here (the HDFSBacked default cannot
    // serve it, and conf.getOption cannot distinguish "defaulted" from
    // "explicitly chosen", so the process entry point just sets it).
    // Changelog checkpointing makes each commit write a small changelog
    // file; the maintenance thread uploads snapshots in the background.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")

    val pubsub = new Sinks.Pubsub
    val index = new ServedIndex(spark)
    // the index sink also publishes each batch to the "index" pubsub
    // channel, so ws/sse subscribers see live pushes after their dump
    val indexSink: Sinks.EventSink = new Sinks.EventSink {
      override def write(batch: DataFrame, batchId: Long): Unit = {
        val cached = batch.cache()
        try {
          index.sink.write(cached, batchId)
          pubsub.publish("index", cached, batchId)
        } finally { cached.unpersist(); () }
      }
    }
    val core = new Core(spark)
    // fanout.dir, when configured, pins the spool/tee-checkpoint area
    // to a stable path — a restarted process resumes its tees from
    // their checkpoints instead of starting over in a fresh temp dir
    val fanoutDir = (ConfigFile.loadKey(path, "fanout") \ "dir") match {
      case JString(d) =>
        val p = Paths.get(d)
        java.nio.file.Files.createDirectories(p)
        p
      case _ => java.nio.file.Files.createTempDirectory("graft-fanout")
    }
    val loader = new ConfigFile.Loader(core, spark, path, Map.empty,
      sinkFactories = Map("index" -> (_ => indexSink)),
      fanoutDir = fanoutDir)
    val running = new Running(spark, core, loader, pubsub, index, path)
    // the first reload builds the ingest servers from the file, salts
    // stream signatures with their server blocks, starts ws/sse, and
    // starts the stream topology — the same path SIGHUP drives later
    running.reload()
    running
  }

  private def hostOf(o: JObject) = strOr(o \ "host", "127.0.0.1")

  /** The file's `servers` object as (name, block) pairs. */
  private def serverBlocks(doc: JValue): List[(String, JObject)] =
    obj(doc \ "servers").getOrElse(JObject()).obj.collect {
      case JField(name, o: JObject) => name -> o
    }

  /** Ingest-server source thunks from the parsed server blocks.
    * Everything that can reject a block (ports, TLS material, strict
    * booleans) is extracted EAGERLY here, so a reload against a
    * malformed file throws before any running state is touched. */
  private def ingestSources(spark: SparkSession,
      blocks: List[(String, JObject)]): Map[String, () => DataFrame] = {
    // every non-ws/sse server block is an ingest source named after its
    // key; `protocol` defaults to that key, so {"tcp": {...}} just
    // works and {"tcp2": {"protocol": "tcp", ...}} opens a second one
    blocks.collect {
      case (name, o) if name != "ws" && name != "sse" &&
          strOr(o \ "protocol", name) == "files" =>
        name -> filesSource(spark, name, o)
      case (name, o) if name != "ws" && name != "sse" =>
        // EAGER val (not def): a malformed port must throw here, at
        // extraction time, not when the stream first starts — reload
        // relies on this to keep the old topology on a bad file
        val port = int(o \ "port", s"servers.$name.port")
        val mk: () => DataFrame = strOr(o \ "protocol", name) match {
          case "tcp" if (o \ "tlskeystore") != JNothing =>
            // mutual-TLS termination (the reference's tls? server):
            // keystore = server identity, truststore (defaults to the
            // keystore) anchors client certs when tlsclientauth is set.
            // Strict extraction, EAGER (outside the thunk): a
            // malformed keystore or tlsclientauth value must throw at
            // config load, not silently fall back to a plaintext or
            // no-client-auth server when the stream first starts
            val keystore =
              ConfigFile.str(o \ "tlskeystore", s"servers.$name.tlskeystore")
            val password =
              ConfigFile.str(o \ "tlspassword", s"servers.$name.tlspassword")
            val truststore = Option(strOr(o \ "tlstruststore", null))
            val clientAuth =
              boolOf(o \ "tlsclientauth", s"servers.$name.tlsclientauth")
            () => asSEvents(Sources.riemannTlsServer(spark, hostOf(o), port,
              keystore, password, truststore = truststore,
              clientAuth = clientAuth))
          case "tcp" =>
            () => asSEvents(Sources.riemannTcpServer(spark, hostOf(o), port))
          case "udp" =>
            () => asSEvents(Sources.riemannUdpServer(spark, hostOf(o), port))
          case "graphite" =>
            () => Sources.graphiteServer(spark, hostOf(o), port)
          case "opentsdb" =>
            () => Sources.opentsdbServer(spark, hostOf(o), port)
          case other => throw new IllegalArgumentException(
            s"servers.$name: unknown protocol '$other'")
        }
        name -> mk
    }.toMap
  }

  /** `{"protocol": "files", "path": <dir>, "format": "parquet"|"json"|
    * "csv", "schema": <DDL, optional>, "maxFilesPerTrigger": N,
    * "options": {...}}` — a file-landing-zone ingest source: the
    * curation firehose's production shape (documents land as parquet,
    * the streams watch the directory). File sources are NATIVELY
    * replayable (each query tracks its own seen-files set), so the
    * loader never tees them — [[Running.reload]] auto-registers every
    * `files` block in `replayableSources`. Schema comes from the DDL
    * when given, else is inferred EAGERLY from the existing files (a
    * missing/empty dir with no DDL throws at reload, keeping the
    * old topology — same eager-extraction contract as ports/TLS). */
  private def filesSource(spark: SparkSession, name: String,
      o: JObject): () => DataFrame = {
    val path = ConfigFile.str(o \ "path", s"servers.$name.path")
    val fmt = strOr(o \ "format", "parquet")
    require(Set("parquet", "json", "csv")(fmt),
      s"servers.$name.format: parquet|json|csv, got '$fmt'")
    val opts: Map[String, String] = obj(o \ "options")
      .map(_.obj.collect { case JField(k, JString(v)) => k -> v }.toMap)
      .getOrElse(Map.empty)
    val schema = (o \ "schema") match {
      case JString(ddl) => org.apache.spark.sql.types.StructType.fromDDL(ddl)
      case JNothing =>
        // eager: a reload against an empty landing zone must throw NOW
        val inferred =
          try spark.read.format(fmt).options(opts).load(path).schema
          catch {
            case NonFatal(e) => throw new IllegalArgumentException(
              s"servers.$name: cannot infer schema from '$path' " +
                s"(${e.getMessage}); provide \"schema\" as a DDL string " +
                "or land at least one file first")
          }
        if (inferred.isEmpty) throw new IllegalArgumentException(
          s"servers.$name: '$path' yields an empty schema; provide " +
            "\"schema\" as a DDL string")
        inferred
      case other => throw new IllegalArgumentException(
        s"servers.$name.schema: expected a DDL string, got $other")
    }
    val maxFiles = (o \ "maxFilesPerTrigger") match {
      case JNothing => None
      case v => Some(int(v, s"servers.$name.maxFilesPerTrigger"))
    }
    () => {
      val r = spark.readStream.schema(schema).format(fmt).options(opts)
      maxFiles.foreach(n => r.option("maxFilesPerTrigger", n))
      r.load(path)
    }
  }

  /** `graft.Main test <config>` — the bin.clj "test" command: run the
    * config file's `tests` array against its stream definitions. Each
    * test drives ONE named stream as a REAL streaming query (so every
    * op — index, throttle, windows — behaves exactly as deployed): the
    * stream's source is replaced by an in-memory input, `inject`ed
    * events flow through the compiled pipeline into a memory sink, and
    * every `expect` entry must match some output row on ALL the fields
    * it names (subset semantics, like the reference's tap assertions);
    * `expect_count`, when given, pins the exact row count.
    *
    * {{{
    * "tests": [
    *   {"name": "hot", "stream": "hot",
    *    "inject": [{"host":"h1","service":"cpu","state":"critical",
    *                "metric":0.9,"time_s":100}],
    *    "expect": [{"host":"h1"}], "expect_count": 1}
    * ]
    * }}}
    *
    * Returns (passed, failed) and prints one line per test. */
  def runTests(path: Path, spark: SparkSession): (Int, Int) = {
    // the stateful ops need RocksDB; snapshot the caller's provider and
    // restore it on every exit path — a test run must not leak session
    // conf into whatever shares the SparkSession
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val streams = ConfigFile.load(path)
        .map(s => ConfigFile.str(s \ "name", "stream.name") -> s).toMap
      // include-merged like the streams: a suite split across includes
      // runs whole
      val tests = ConfigFile.loadTests(path)
      var passed, failed = 0
      for (t <- tests) {
        val name = ConfigFile.str(t \ "name", "test.name")
        // one broken test must not abort the run: report it as FAIL
        // and keep going (the reference's runner reports per-deftest)
        val failures =
          try {
            val streamName = ConfigFile.str(t \ "stream", s"$name.stream")
            val stream = streams.getOrElse(streamName,
              throw new IllegalArgumentException(
                s"unknown stream '$streamName'"))
            runOneTest(spark, name, stream, t)
          } catch {
            case NonFatal(e) => Seq(s"error: ${e.getMessage}")
          }
        if (failures.isEmpty) { passed += 1; println(s"PASS $name") }
        else {
          failed += 1
          println(s"FAIL $name: ${failures.mkString("; ")}")
        }
      }
      println(s"== $passed passed, $failed failed ==")
      (passed, failed)
    } finally prevProvider match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  /** An injected test event: SEvent's fields plus tags, so streams
    * using the tag/tagged-* ops are testable. */
  private case class TestEvent(host: String, service: String,
      state: String, metric: Option[Double], time: java.sql.Timestamp,
      ttl: Option[Double], tags: Seq[String])

  private def runOneTest(spark: SparkSession, name: String,
      stream: JObject, t: JObject): Seq[String] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[TestEvent]
    val out = ConfigFile.compilePipeline(input.toDF(), stream)
    val sinkName = s"graft_test_${name.replaceAll("[^A-Za-z0-9_]", "_")}" +
      s"_${System.nanoTime()}"
    // honor the stream's configured outputMode ("behaves exactly as
    // deployed"): an update-mode window stream must not spuriously
    // fail because the harness forced append
    val mode = (stream \ "sink" \ "outputMode") match {
      case JString(m) => m
      case _ => "append"
    }
    val ckpt = java.nio.file.Files.createTempDirectory(s"graft-test-$name")
    val q = out.writeStream.format("memory").queryName(sinkName)
      .outputMode(mode)
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      val events = (t \ "inject") match {
        case JArray(es) => es.collect { case o: JObject =>
          TestEvent(
            strOr(o \ "host", null), strOr(o \ "service", null),
            strOr(o \ "state", null),
            (o \ "metric") match {
              case JNothing => None
              case v => Some(ConfigFile.num(v, s"$name.metric"))
            },
            new java.sql.Timestamp(
              (ConfigFile.num(o \ "time_s", s"$name.time_s") * 1000).toLong),
            (o \ "ttl") match {
              case JNothing => None
              case v => Some(ConfigFile.num(v, s"$name.ttl"))
            },
            ConfigFile.strings(o \ "tags"))
        }
        case _ => Nil
      }
      input.addData(events)
      q.processAllAvailable()
      val rows = spark.table(sinkName).collect()
      def fieldMatches(k: String, v: JValue,
          row: org.apache.spark.sql.Row): Boolean = {
        if (!row.schema.fieldNames.contains(k)) return false
        val i = row.fieldIndex(k)
        v match {
          case JNull => row.isNullAt(i)
          case JString(s) => !row.isNullAt(i) && row.get(i).toString == s
          case JBool(b) => !row.isNullAt(i) && row.get(i) == b
          case JArray(vs) => !row.isNullAt(i) && (row.get(i) match {
            case seq: scala.collection.Seq[_] =>
              seq.map(String.valueOf(_)) ==
                vs.map(x => ConfigFile.str(x, k))
            case _ => false
          })
          case n => !row.isNullAt(i) &&
            // a non-numeric column compared to a number is a MISMATCH,
            // not a crash (the test reports "no row matches")
            (try math.abs(row.get(i).toString.toDouble -
              ConfigFile.num(n, k)) < 1e-9
            catch { case _: NumberFormatException => false })
        }
      }
      def matches(exp: JObject, row: org.apache.spark.sql.Row): Boolean =
        exp.obj.forall { case JField(k, v) => fieldMatches(k, v, row) }
      val expects = (t \ "expect") match {
        case JArray(es) => es.collect { case o: JObject => o }
        case _ => Nil
      }
      val misses = expects.filterNot(e => rows.exists(matches(e, _)))
        .map(e => s"no row matches ${JsonMethods.compact(JsonMethods.render(e))}")
      val countMiss = (t \ "expect_count") match {
        case JNothing => Nil
        case v =>
          val want = ConfigFile.num(v, s"$name.expect_count").toInt
          if (rows.length == want) Nil
          else Seq(s"expected $want rows, got ${rows.length}")
      }
      misses ++ countMiss
    } finally {
      q.stop()
      spark.catalog.dropTempView(sinkName)
      // best-effort checkpoint cleanup — repeated runs must not
      // accumulate /tmp directories
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case NonFatal(_) => () }
    }
  }

  /** `graft.Main jobs <config>` — run the file's batch `jobs` array
    * once (the corpus planners the streaming firehose cannot express:
    * cap/pack/sample/mixture) and print one line per job. The exit
    * code reports failure loudly so schedulers (cron, airflow-style
    * wrappers) can alert; individual jobs are NOT isolated — a failed
    * job aborts the run with its cause, because a half-written
    * planning pass must never look like success. */
  def runJobsCmd(path: Path, spark: SparkSession): Seq[(String, Long)] = {
    val results = ConfigFile.runJobs(spark, path)
    results.foreach { case (name, rows) => println(s"JOB $name: $rows rows") }
    println(s"== ${results.size} job(s) completed ==")
    results
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "version" :: _ => println(Version)
    case "jobs" :: cfg :: _ =>
      val spark = SparkSession.builder()
        .master(sys.env.getOrElse("GRAFT_MASTER", "local[*]"))
        .appName("graft-jobs")
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("GRAFT_SHUFFLE_PARTITIONS", "32"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val code =
        try { runJobsCmd(Paths.get(cfg), spark); 0 }
        catch {
          case NonFatal(e) =>
            System.err.println(s"[jobs] failed: ${e.getMessage}")
            1
        }
      spark.stop()
      sys.exit(code)
    case "test" :: cfg :: _ =>
      // bin.clj's "test" command: exit 0 iff every config test passes
      val spark = SparkSession.builder()
        .master(sys.env.getOrElse("GRAFT_MASTER", "local[*]"))
        .appName("graft-test")
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("GRAFT_SHUFFLE_PARTITIONS", "8"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val (_, failedN) = runTests(Paths.get(cfg), spark)
      spark.stop()
      sys.exit(if (failedN == 0) 0 else 1)
    case rest =>
      val cfg = rest match {
        case "start" :: p :: _ => p
        case p :: _ => p
        case Nil => "graft.config.json"
      }
      val running = start(Paths.get(cfg))
      running.installSighup() // full reload: servers + streams
      sys.addShutdownHook(running.stop())
      // bin.clj's run-app!: the streaming queries and server threads
      // ARE the process; block until stop()
      running.done.await()
  }
}
