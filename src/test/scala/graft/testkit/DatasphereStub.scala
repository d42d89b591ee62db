package graft.testkit

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import scala.collection.mutable

/** In-process SAP Datasphere stub: DWAAS-core spaces/objects/CSN definitions
  * and the catalog OData endpoints the discovery functions consume. */
class DatasphereStub {

  val requests = mutable.ListBuffer[String]()

  /** Ad-hoc error routes: path -> status, answered to any request. */
  val extraStatuses = mutable.Map[String, Int]()

  private var server: HttpServer = _
  def port: Int = server.getAddress.getPort
  def baseUrl: String = s"http://localhost:$port"

  def start(): this.type = {
    server = HttpServer.create(new InetSocketAddress("localhost", 0), 0)
    server.createContext("/", new Handler)
    server.setExecutor(null)
    server.start()
    this
  }
  def stop(): Unit = if (server != null) server.stop(0)

  private class Handler extends HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      val path = ex.getRequestURI.getPath
      val rawQ = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      requests.synchronized {
        requests += path + (if (rawQ.isEmpty) "" else "?" +
          URLDecoder.decode(rawQ, StandardCharsets.UTF_8))
      }
      extraStatuses.synchronized { extraStatuses.get(path) }.foreach { status =>
        val bytes = s"answered $status".getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(status, bytes.length)
        val os = ex.getResponseBody; os.write(bytes); os.close()
        return
      }
      val body: Option[String] = path match {
        case "/dwaas-core/api/v1/spaces" =>
          Some("""["SPACE1","SPACE2"]""")
        case "/dwaas-core/api/v1/spaces/SPACE1/localtables" =>
          Some("""[{"name":"SALES","@EndUserText.label":"Sales Table"}]""")
        case "/dwaas-core/api/v1/spaces/SPACE1/views" =>
          Some("""["V_ORDERS"]""")
        case "/dwaas-core/api/v1/spaces/SPACE1/factmodels" =>
          Some("""[{"name":"REVCUBE","@EndUserText.label":"Revenue Cube"}]""")
        case "/dwaas-core/api/v1/spaces/SPACE2/localtables" =>
          Some("""[]""")
        case "/dwaas-core/api/v1/spaces/SPACE1/localtables/SALES" =>
          Some("""{"definitions":{"SALES":{"@EndUserText.label":"Sales Table","elements":{
                 |"ID":{"type":"cds.Integer","length":10},
                 |"CustomerName":{"type":"cds.String","length":80,"@EndUserText.label":"Customer Name"},
                 |"OrderDate":{"type":"cds.Date"}}}}}""".stripMargin.replace("\n", ""))
        case "/dwaas-core/api/v1/spaces/SPACE1/factmodels/REVCUBE" =>
          Some("""{"definitions":{"REVCUBE":{"@EndUserText.label":"Revenue Cube","elements":{
                 |"revenue_sum":{"type":"cds.Decimal"},
                 |"region":{"type":"cds.String","@EndUserText.label":"Region"},
                 |"order_count":{"type":"cds.Integer"}}}}}""".stripMargin.replace("\n", ""))
        case "/api/v1/dwc/catalog/assets" =>
          Some("""{"value":[{"name":"Catalog Only View","technicalName":"CAT_VIEW",
                 |"assetRelationalMetadataUrl":"x","assetAnalyticalMetadataUrl":""}]}"""
            .stripMargin.replace("\n", ""))
        case "/api/v1/dwc/catalog/spaces" =>
          Some("""{"value":[{"name":"SPACE1","label":"Space One"}]}""")
        case _ => None
      }
      body match {
        case Some(b) =>
          val bytes = b.getBytes(StandardCharsets.UTF_8)
          ex.getResponseHeaders.set("Content-Type", "application/json")
          ex.sendResponseHeaders(200, bytes.length)
          val os = ex.getResponseBody; os.write(bytes); os.close()
        case None =>
          val bytes = "{}".getBytes(StandardCharsets.UTF_8)
          ex.sendResponseHeaders(404, bytes.length)
          val os = ex.getResponseBody; os.write(bytes); os.close()
      }
    }
  }
}
