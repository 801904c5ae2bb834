package graft

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.json4s._
import org.json4s.jackson.JsonMethods.parse

  /** In-memory REST catalog with auth + fault injection. */
  class FakeRestCatalog {
    val tokenIssued = new AtomicInteger(0)
    val failNext503 = new AtomicInteger(0)
    // commits that apply their updates and then answer 503 (a lost response)
    val loseNextCommitResponse = new AtomicInteger(0)
    @volatile var validToken: String = "tok-0"
    val namespaces = mutable.LinkedHashSet.empty[String]
    // (ns, table) -> (location, snapshots as (id, manifestList), currentId)
    case class Tbl(location: String,
                   snapshots: mutable.ArrayBuffer[(Long, String)] = mutable.ArrayBuffer(),
                   var currentId: Option[Long] = None,
                   var schemaJson: JValue = JNothing,
                   var specJson: JValue = JNothing,
                   specs: mutable.ArrayBuffer[JValue] = mutable.ArrayBuffer(),
                   var defaultSpecId: Int = 0,
                   // snapshot-id -> statistics entry (set-statistics
                   // replaces per snapshot, per the REST spec)
                   stats: mutable.LinkedHashMap[Long, JValue] = mutable.LinkedHashMap(),
                   props: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap(),
                   summaries: mutable.LinkedHashMap[Long, JValue] = mutable.LinkedHashMap())
    val tables = mutable.LinkedHashMap.empty[(String, String), Tbl]
    val requests = mutable.ArrayBuffer.empty[String]
    @volatile var warehouseDir: String = ""

    private implicit val formats: Formats = DefaultFormats

  private def reply(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
      if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
      ex.close()
    }

    val server: HttpServer = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      try handle(ex)
      catch { case t: Throwable => reply(ex, 500, s"""{"error":"${t.getMessage}"}""") }
    })
    server.start()
    def uri: String = s"http://127.0.0.1:${server.getAddress.getPort}"
    def stop(): Unit = server.stop(0)

    private def handle(ex: HttpExchange): Unit = {
      val path = ex.getRequestURI.getPath
      val method = ex.getRequestMethod
      requests += s"$method $path"
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")

      if (method == "POST" && path == "/v1/oauth/tokens") {
        val form = body.split("&").map(_.split("=", 2)).collect {
          case Array(k, v) => k -> java.net.URLDecoder.decode(v, "UTF-8")
        }.toMap
        if (form.get("grant_type").contains("client_credentials") &&
            form.get("client_id").contains("svc") &&
            form.get("client_secret").contains("hunter2")) {
          validToken = s"tok-${tokenIssued.incrementAndGet()}"
          reply(ex, 200,
            s"""{"access_token":"$validToken","token_type":"bearer","expires_in":3600}""")
        } else reply(ex, 401, """{"error":"invalid_client"}""")
        return
      }

      if (failNext503.getAndUpdate(n => math.max(0, n - 1)) > 0) {
        reply(ex, 503, """{"error":"service unavailable"}"""); return
      }

      // all non-token endpoints require the CURRENT bearer
      val auth = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
      if (auth != s"Bearer $validToken") { reply(ex, 401, """{"error":"unauthorized"}"""); return }

      val parts = path.stripPrefix("/").split("/").toList
      (method, parts) match {
        case ("GET", List("v1", "config")) =>
          reply(ex, 200, """{"defaults":{},"overrides":{"prefix":"demo"}}""")

        case ("GET", List("v1", "demo", "namespaces")) =>
          val ns = namespaces.map(n => s"""["$n"]""").mkString(",")
          reply(ex, 200, s"""{"namespaces":[$ns]}""")

        case ("GET", List("v1", "demo", "namespaces", ns)) =>
          if (namespaces.contains(ns))
            reply(ex, 200, s"""{"namespace":["$ns"],"properties":{}}""")
          else reply(ex, 404, """{"error":"namespace not found"}""")

        case ("POST", List("v1", "demo", "namespaces")) =>
          val ns = (parse(body) \ "namespace").extract[Seq[String]].mkString(".")
          if (namespaces.contains(ns)) reply(ex, 409, """{"error":"already exists"}""")
          else { namespaces += ns; reply(ex, 200, body) }

        case ("GET", List("v1", "demo", "namespaces", ns, "tables", t)) =>
          tables.get((ns, t)) match {
            case None => reply(ex, 404, """{"error":"table not found"}""")
            case Some(tbl) =>
              val snaps = tbl.snapshots.map { case (id, ml) =>
                val sm = tbl.summaries.get(id).map(s =>
                  s""","summary":${org.json4s.jackson.JsonMethods.compact(
                    org.json4s.jackson.JsonMethods.render(s))}""").getOrElse("")
                s"""{"snapshot-id":$id,"manifest-list":"$ml"$sm}"""
              }.mkString(",")
              val schemas =
                if (tbl.schemaJson == JNothing) ""
                else s""""current-schema-id":0,"schemas":[${
                  org.json4s.jackson.JsonMethods.compact(
                    org.json4s.jackson.JsonMethods.render(tbl.schemaJson))}],"""
              val specsJson =
                if (tbl.specs.isEmpty) ""
                else s""""default-spec-id":${tbl.defaultSpecId},"partition-specs":[${
                  tbl.specs.map(s => org.json4s.jackson.JsonMethods.compact(
                    org.json4s.jackson.JsonMethods.render(s))).mkString(",")}],"""
              val statsJson =
                if (tbl.stats.isEmpty) ""
                else s""""statistics":[${
                  tbl.stats.values.map(s => org.json4s.jackson.JsonMethods.compact(
                    org.json4s.jackson.JsonMethods.render(s))).mkString(",")}],"""
              val propsJson =
                if (tbl.props.isEmpty) ""
                else s""""properties":{${tbl.props.map { case (k, v) =>
                  s""""$k":"$v"""" }.mkString(",")}},"""
              reply(ex, 200,
                s"""{"metadata-location":"${tbl.location}/metadata/v1.json",
                   |"metadata":{"table-uuid":"u-$ns-$t","location":"${tbl.location}",
                   |"current-snapshot-id":${tbl.currentId.getOrElse(-1L)},
                   |"last-sequence-number":${tbl.snapshots.size},
                   |$schemas$specsJson$statsJson$propsJson"snapshots":[$snaps]}}""".stripMargin.replace("\n", ""))
          }

        case ("POST", List("v1", "demo", "namespaces", ns, "tables")) =>
          if (!namespaces.contains(ns)) { reply(ex, 404, """{"error":"namespace not found"}"""); return }
          val j = parse(body)
          val name = (j \ "name").extract[String]
          if (tables.contains((ns, name))) reply(ex, 409, """{"error":"already exists"}""")
          else {
            val tbl = Tbl(s"$warehouseDir/$ns/$name")
            tbl.schemaJson = j \ "schema"
            tbl.specJson = j \ "partition-spec"
            if (tbl.specJson != JNothing)
              tbl.specs += tbl.specJson.merge(JObject("spec-id" -> JInt(0)))
            tables((ns, name)) = tbl
            reply(ex, 200,
              s"""{"metadata-location":"${tbl.location}/metadata/v1.json",
                 |"metadata":{"location":"${tbl.location}","current-snapshot-id":-1,
                 |"last-sequence-number":0,"snapshots":[]}}""".stripMargin.replace("\n", ""))
          }

        case ("POST", List("v1", "demo", "namespaces", ns, "tables", t)) =>
          tables.get((ns, t)) match {
            case None => reply(ex, 404, """{"error":"table not found"}""")
            case Some(tbl) =>
              val j = parse(body)
              // enforce assert-ref-snapshot-id (the optimistic lock)
              val required = (j \ "requirements").extract[Seq[JValue]]
                .find(r => (r \ "type").extract[String] == "assert-ref-snapshot-id")
                .map(r => (r \ "snapshot-id").toOption.collect {
                  case JInt(n) if n >= 0 => n.toLong
                })
              val matches = required.forall(_ == tbl.currentId)
              if (!matches) { reply(ex, 409, """{"error":"commit conflict: branch main has moved"}"""); return }
              (j \ "updates").extract[Seq[JValue]].foreach { u =>
                (u \ "action").extract[String] match {
                  case "add-snapshot" =>
                    val s = u \ "snapshot"
                    val sid = (s \ "snapshot-id").extract[Long]
                    tbl.snapshots += ((sid,
                      (s \ "manifest-list").extract[String]))
                    (s \ "summary") match {
                      case JNothing => ()
                      case sm => tbl.summaries(sid) = sm
                    }
                  case "set-snapshot-ref" =>
                    tbl.currentId = Some((u \ "snapshot-id").extract[Long])
                  case "add-spec" =>
                    val assigned = tbl.specs.size
                    tbl.specs += (u \ "spec").merge(JObject("spec-id" -> JInt(assigned)))
                  case "set-default-spec" =>
                    val id = (u \ "spec-id").extract[Int]
                    tbl.defaultSpecId = if (id == -1) tbl.specs.size - 1 else id
                  case "set-statistics" =>
                    val sid = (u \ "statistics" \ "snapshot-id").extract[Long]
                    tbl.stats(sid) = u \ "statistics"
                  case "remove-statistics" =>
                    tbl.stats.remove((u \ "snapshot-id").extract[Long])
                  case "set-properties" =>
                    (u \ "updates") match {
                      case JObject(fs) => fs.foreach {
                        case (k, JString(v)) => tbl.props(k) = v
                        case _ => ()
                      }
                      case _ => ()
                    }
                  case "remove-properties" =>
                    (u \ "removals").extract[Seq[String]]
                      .foreach(tbl.props.remove)
                  case _ => ()
                }
              }
              if (loseNextCommitResponse.getAndUpdate(n => math.max(0, n - 1)) > 0)
                reply(ex, 503, """{"error":"response lost"}""")
              else
                reply(ex, 200, s"""{"metadata-location":"${tbl.location}/metadata/v2.json","metadata":{}}""")
          }

        case _ => reply(ex, 404, s"""{"error":"no route: $method $path"}""")
      }
    }
  }

