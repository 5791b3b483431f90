package graft.admin

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Live admin REST endpoint — the reference's navigable admin API
  * (`lc-lib/admin/server.go:146-249` request routing over the
  * `lc-lib/admin/api` entry tree; root entries `name`/`version` per
  * `apiroot.go:40-53`). The reference exposes a tree of Navigatable
  * entries: GET on a leaf returns its JSON encoding, GET on an interior
  * node lists its children. This analog serves the same shape over the
  * JDK's built-in HTTP server with pluggable providers — the engine
  * registers its streaming speed meters, per-sink aggregates and lineage
  * state as entries (the reference registers prospector/publisher/
  * receiver status the same way).
  *
  * Config reload is exposed the reference's way — a POST-only `reload`
  * callback entry on the root (`apiroot.go:47-52` → `App.ReloadConfig`,
  * `core/app.go:266-277`), registered via [[AdminServer.registerReload]]:
  * it re-reads and VALIDATES the watched config (a parse failure returns
  * the error and leaves the running config untouched, exactly like
  * `ReloadConfig`), then rewrites it so any watcher sees a fresh mtime.
  * The streaming surface completes the semantics: a config-driven stream
  * re-resolves its stage list at every micro-batch boundary
  * ([[graft.streaming.StreamingPipeline.runConfigured]] — the
  * processor-pool drain-then-restart semantics, `pool.go:104-111`). A
  * BATCH job's config stays immutable per submit (Spark's model), and
  * the debug entry is absent (the JVM has its own diagnostics) —
  * documented divergences, not missing surface.
  */
final class AdminServer(name: String = "graft", version: String = "3") {

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[String, () => Any]()
  private val callbacks =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Seq[String]] => String]()

  register("name", () => name)
  register("version", () => version)

  /** Register a leaf at a `/`-separated path. The provider is called per
    * request; it must return jackson-encodable values (String, numbers,
    * Boolean, java/scala Map, Seq).
    */
  def register(path: String, provider: () => Any): Unit =
    entries.put(path.stripPrefix("/").stripSuffix("/"), provider)

  /** Register a command at a `/`-separated path — the reference's
    * CallbackEntry (`lc-lib/admin/api/api.go:250-278`): POST-only (GET
    * answers 405, `server.go:215-222`), the callback's string result is
    * returned as `{"result":...}` (`server.go:279-314`), a thrown
    * exception as `{"error":...}`. The argument is the parsed form/query
    * parameter multimap (url.Values).
    */
  def registerCallback(path: String, f: Map[String, Seq[String]] => String): Unit =
    callbacks.put(path.stripPrefix("/").stripSuffix("/"), f)

  /** The SIGHUP-analog `reload` command (`apiroot.go:47-52`): POST
    * `/reload` (and the alias `/pipeline/reload`) re-reads and validates
    * the watched pipeline config. Invalid JSON / unknown stages → the
    * error returns to the caller and NOTHING changes (`ReloadConfig`
    * returns the load error before touching app state, `app.go:266-277`).
    * Valid → the file is rewritten in place, so both reload triggers the
    * engine supports fire: content-compare streams
    * ([[graft.streaming.StreamingPipeline.runConfigured]]) apply it at
    * the next micro-batch boundary, mtime watchers see a fresh stamp.
    */
  def registerReload(configPath: java.nio.file.Path): Unit = {
    val reload: Map[String, Seq[String]] => String = { _ =>
      val text = java.nio.file.Files.readString(configPath)
      graft.pipeline.PipelineConfig.fromText(text, configPath.toString) // validate or throw
      java.nio.file.Files.writeString(configPath, text)
      "Successfully reloaded configuration" // apiroot.go:51
    }
    registerCallback("reload", reload)
    registerCallback("pipeline/reload", reload)
  }

  private var server: HttpServer = _

  /** Bind and serve; port 0 picks a free port. Returns the bound address. */
  def start(port: Int = 0): InetSocketAddress = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.setExecutor(null) // single dispatcher thread — admin traffic
    server.start()
    server.getAddress
  }

  def stop(): Unit = if (server != null) server.stop(0)

  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }

  private def handle(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath.stripPrefix("/").stripSuffix("/")
    val body =
      try new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      finally ex.getRequestBody.close()
    val (code, resp) = respond(path, ex.getRequestMethod,
      Seq(Option(ex.getRequestURI.getRawQuery), Some(body)).flatten.mkString("&"))
    val bytes = resp.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def parseForm(raw: String): Map[String, Seq[String]] =
    raw.split('&').toSeq.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      def dec(s: String) = java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)
      if (i < 0) dec(kv) -> "" else dec(kv.take(i)) -> dec(kv.drop(i + 1))
    }.groupMap(_._1)(_._2)

  /** Leaf → its encoded value; interior node → sorted child-name list
    * (the api.Node listing; callback entries appear as children); unknown
    * → 404 (`server.go:225-235`). Callback leaves are POST-only: GET →
    * 405, POST → `{"result":...}` / `{"error":...}`.
    */
  private[admin] def respond(path: String, method: String = "GET",
      rawForm: String = ""): (Int, String) = {
    val cb = callbacks.get(path)
    if (cb != null) {
      if (method != "POST")
        (405, s"""{"error":${quote(s"callback entries are POST-only: $path")}}""")
      else
        try (200, s"""{"result":${quote(cb(parseForm(rawForm)))}}""")
        catch { case e: Exception => (500, s"""{"error":${quote(e.toString)}}""") }
    } else {
      val exact = entries.get(path)
      if (exact != null) {
        try (200, mapper.writeValueAsString(exact()))
        catch { case e: Exception => (500, s"""{"error":${quote(e.toString)}}""") }
      } else {
        val prefix = if (path.isEmpty) "" else path + "/"
        import scala.jdk.CollectionConverters._
        val children = (entries.keySet.asScala ++ callbacks.keySet.asScala)
          .filter(k => k.startsWith(prefix) && k.length > prefix.length)
          .map(_.substring(prefix.length).split('/').head)
          .toSeq.distinct.sorted
        if (children.nonEmpty) (200, mapper.writeValueAsString(children))
        else (404, s"""{"error":${quote(s"no such admin entry: $path")}}""")
      }
    }
  }

  private def quote(s: String): String =
    mapper.writeValueAsString(s)
}

object AdminServer {

  /** Wire the engine's live metrics into an admin tree — the entries the
    * reference's components register on the api root (prospector/
    * publisher/receiver status): active streaming queries and their live
    * EWMA speed meters (`speed_lps` analog), polled per request exactly
    * like `lc-admin` polls the REST endpoint.
    */
  def forSpark(spark: org.apache.spark.sql.SparkSession,
      speeds: graft.streaming.StreamingPipeline.SpeedListener,
      configPath: Option[java.nio.file.Path] = None): AdminServer = {
    val srv = new AdminServer()
    configPath.foreach(srv.registerReload)
    def active = spark.streams.active.toSeq
    srv.register("pipeline/queries", () =>
      active.map(q => Option(q.name).getOrElse(q.id.toString)))
    srv.register("pipeline/speed", () =>
      active.map(q =>
        Option(q.name).getOrElse(q.id.toString) -> speeds.speedFor(q.id)).toMap)
    srv.register("pipeline/status", () =>
      active.map(q =>
        Option(q.name).getOrElse(q.id.toString) -> q.status.message).toMap)
    srv
  }

  /** The batch job's admin tree (wired by [[graft.RunPipeline]]): the
    * publisher/endpoint counters the reference registers on its api root
    * (`lc-lib/publisher/api.go:33-36`, `endpoint/api.go:34-45`) — live
    * per-sink turn/byte counts over the buckets committed SO FAR (counts
    * grow as buckets seal, exactly like publishedLines grows per ack) —
    * plus lineage-resume progress and the per-partition throughput
    * snapshot. The sink counters fold the lineage markers' tallies, so a
    * poll reads a few small files and runs no Spark job; a bucket whose
    * marker predates per-sink counts is left out of them.
    */
  def forBatch(outputRoot: String, batchId: String, nBuckets: Int,
      partitions: () => Any): AdminServer = {
    val srv = new AdminServer()
    srv.register("pipeline/partitions", partitions)
    srv.register("pipeline/lineage", () => Map(
      "batch_id" -> batchId,
      "buckets_committed" -> graft.lineage.Lineage.committed(outputRoot).size,
      "buckets_total" -> nBuckets))
    srv.register("pipeline/sinks", () => {
      val lineage = graft.lineage.Lineage
      lineage.sinkTotals(lineage.readMarkers(outputRoot).flatMap(_.sinks.getOrElse(Nil)))
        .map(t => t.sink -> Map("turns" -> t.rows, "bytes" -> t.bytes)).toMap
    })
    srv
  }
}
