package graft.server

import org.apache.spark.sql.SparkSession
import graft.streaming.BrokerLoop

/** MQTT `db/query` endpoint (reference `mods/server/mqtt_query.go`):
  * a JSON request `{"q": …[, "format", "reply", …]}` published to the
  * `db/query` topic is executed through the same query door as HTTP,
  * and the encoded payload is published to the reply topic — the
  * request's `"reply"` field, else `db/reply` (mqtt.go:46
  * defaultReplyTopic). Attached to the loopback broker double; a
  * deployed cluster attaches the same handler to its real broker. */
object MqttDoor {

  /** Connect a door client to the broker and start serving `db/query`.
    * Returns the client so callers can close it. The door speaks MQTT
    * v5 so publishes carrying property blocks (response topic / user
    * properties) reach the write handler intact; 3.1.1 publishers are
    * downgraded by the broker and arrive with empty properties. */
  def attach(spark: SparkSession, host: String, port: Int): BrokerLoop.MqttClient = {
    val cli = new BrokerLoop.MqttClient(host, port, "graft-mqtt-door", proto = 5)
    cli.subscribe("db/query") { (_, payload) =>
      val (reply, out) = serve(spark, new String(payload, "UTF-8"))
      cli.publish(reply, out)
    }
    // write topics (mqtt_write.go): db/write|append/<table>[:fmt[:gzip]].
    // v5 user properties override the topic-suffix format/compress and can
    // request a reply (mqtt_write.go:75-101): `reply` (or the v5 response
    // topic, or a JSON body's top-level "reply") names the topic that
    // receives the WriteResponse envelope. The append path (method=append
    // user-prop or db/append/ prefix, mqtt.go:302-318) never replies.
    // db/metrics/<table> takes InfluxDB line protocol; failures only log.
    def ingest(topic: String, prefix: String, payload: Array[Byte],
               props: BrokerLoop.MqttProps): Unit = {
      val tick = System.nanoTime()
      val isAppend = prefix == "db/append/" ||
        props.userValue("method").contains("append")
      var replyTopic =
        if (isAppend) "" // handleAppend has no reply path (mqtt_write.go:388+)
        else props.userValue("reply").getOrElse(props.responseTopic)
      def result(success: Boolean, reason: String): Unit = {
        if (!success)
          graft.tql.TqlLog.log("ERROR", s"mqtt write $topic: $reason")
        if (replyTopic.nonEmpty)
          cli.publish(replyTopic,
            WebApi.envelope(success, reason, tick).getBytes("UTF-8"))
      }
      try {
        val wp = graft.streaming.Subscribers.parseWritePath(topic.stripPrefix(prefix))
          .fold(e => throw new IllegalArgumentException(e), identity)
        val fmt = props.userValue("format")
          .getOrElse(if (wp.format.isEmpty) "json" else wp.format)
        val compress = props.userValue("compress").getOrElse(wp.compress)
        val contentType = fmt match {
          case "csv" => "text/csv"
          case "ndjson" => "application/x-ndjson"
          case _ => "application/json"
        }
        if (fmt == "json" && !isAppend && replyTopic.isEmpty)
          extractReplyTo(payload).foreach(replyTopic = _)
        val params =
          (if (compress == "gzip") Map("compress" -> "gzip") else Map.empty[String, String]) ++
            props.userValue("timeformat").map("timeformat" -> _) ++
            props.userValue("tz").map("tz" -> _) ++
            props.userValue("delimiter").map("delimiter" -> _) ++
            (props.userValue("header").map(_.toLowerCase) match {
              case Some("skip") => Map("header" -> "skip")
              case Some("column") | Some("columns") => Map("header" -> "columns")
              case _ => Map.empty[String, String]
            })
        val n = WriteDoor.write(spark, wp.table, payload, contentType, params)
        result(success = true, s"success, $n record(s) inserted")
      } catch { case e: Exception =>
        result(success = false, Option(e.getMessage).getOrElse(e.toString))
      }
    }
    cli.subscribeV5("db/write/#")((t, p, pr) => ingest(t, "db/write/", p, pr))
    cli.subscribeV5("db/append/#")((t, p, pr) => ingest(t, "db/append/", p, pr))
    cli.subscribe("db/metrics/#") { (topic, payload) =>
      try graft.sources.LineProtocol.writeTo(spark,
        topic.stripPrefix("db/metrics/").toUpperCase, payload)
      catch { case e: Exception =>
        graft.tql.TqlLog.log("ERROR", s"mqtt metrics $topic: ${e.getMessage}")
      }
    }
    cli
  }

  /** One request → (reply topic, encoded payload bytes). The request is
    * the same QueryRequest the HTTP door decodes (mqtt_query.go routes
    * into the shared handler), so the full option surface — format, p
    * binds, tz/timeformat, transpose/rowsFlatten/rowsArray,
    * compress=gzip — behaves identically across doors (mqtt_test.go
    * TestMqttQuery). Failures return the JSON error envelope like the
    * reference's deferred responder, on the requested reply topic. */
  def serveForTest(spark: SparkSession, body: String): (String, Array[Byte]) =
    serve(spark, body)

  /** A JSON write payload's top-level `"reply"` names the reply topic
    * (mqtt_write.go:553-559 extractReplyTo via gjson). Non-JSON or
    * reply-less payloads yield None; decode failures are not write
    * failures here — the payload decoder reports those. */
  private[graft] def extractReplyTo(payload: Array[Byte]): Option[String] =
    try graft.script.Builtins.jsonParse(new String(payload, "UTF-8")) match {
      case m: scala.collection.Map[_, _] =>
        // gjson's .String() yields "" for a JSON null — a null reply
        // must NOT become the literal topic "null"
        m.asInstanceOf[scala.collection.Map[String, Any]].get("reply")
          .filter(_ != null).map(String.valueOf(_)).filter(_.nonEmpty)
      case _ => None
    } catch { case _: Exception => None }

  private[server] def serve(spark: SparkSession, body: String): (String, Array[Byte]) = {
    val t0 = System.nanoTime()
    var reply = "db/reply"
    try {
      val params = WebApi.decodeJsonBodyParams(body)
      params.get("reply").flatMap(_.headOption).filter(_.nonEmpty)
        .foreach(reply = _)
      val r = WebApi.dbQuery(spark, params - "reply")
      // compress=gzip gzips the reply payload (TestMqttQuery
      // query_simple_format=csv_compress pins the gzipped bytes)
      if (r.status == 200 &&
        params.get("compress").exists(_.headOption.contains("gzip")))
        (reply, WebApi.gzip(r.wireBytes))
      else (reply, r.wireBytes)
    } catch {
      case e: Exception =>
        // a malformed request body still answers on the default (or
        // parsed-so-far) reply topic with the decoder's message
        // (TestMqttQueryFailures query_invalid_json)
        val msg = Option(e.getMessage).getOrElse(e.toString)
        (reply, WebApi.envelope(success = false, msg, t0).getBytes("UTF-8"))
    }
  }
}
