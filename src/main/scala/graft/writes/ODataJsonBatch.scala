package graft.writes

import graft.sources.http.{HttpAuth, HttpCore}
import graft.sources.odata.ODataJson

/** OData JSON batch round-trips (OData 4.01 `$batch`; the same shape
  * Microsoft Graph serves at `/$batch`) — N sub-requests in ONE HTTP
  * round-trip. The reference has no batching at all (every INSERT row is its
  * own POST, `graph_sharepoint_functions.cpp:843+`); this is beyond-reference
  * but essential at scale: a 1M-row INSERT at one POST per row is 1M
  * round-trips of latency, at batch size 20 it is 50k.
  *
  * Writes build mixed-method bodies ([[buildBatch]]: POST, PATCH and DELETE
  * sub-requests in one envelope) and go through [[send]], the single place
  * a write batch's answer is validated. Sub-requests carry no `dependsOn`,
  * so a service may run them in any order: callers never put two changes
  * to the same entity into one batch. */
object ODataJsonBatch {

  /** One write sub-request: (method, url, JSON body). */
  type SubRequest = (String, String, Option[String])

  /** Batch body of write sub-requests. The 4.01 spec allows absolute or
    * service-root-relative sub-request URIs; the OData catalog write paths
    * pass the RELATIVE form (Microsoft Graph rejects absolute ones). Ids are
    * 1-based ordinals, so failures map back to buffer positions. */
  def buildBatch(reqs: Seq[SubRequest]): String =
    reqs.zipWithIndex.map { case ((method, url, body), i) =>
      val head = s"""{"id":"${i + 1}","method":"$method","url":${JsonEncode.str(url)}"""
      body match {
        case Some(b) => head + s""","headers":{"Content-Type":"application/json"},"body":$b}"""
        case None    => head + "}"
      }
    }.mkString("""{"requests":[""", ",", "]}")

  /** POSTs `reqs` as one batch to `batchUrl` and fails unless the batch AND
    * every sub-request succeeded ([[HttpCore.succeeded]], 2xx): a non-2xx
    * envelope (its [[graft.sources.http.HttpStatusError]]), fewer
    * sub-responses than sub-requests (truncating proxy, buggy service —
    * those changes were silently not applied) or any sub-status outside 2xx
    * all throw. OData batches are not transactions without changesets, so a
    * failure may leave the other sub-requests applied (at-least-once, like
    * the per-row path). */
  def send(batchUrl: String, reqs: Seq[SubRequest], auth: HttpAuth): Unit = {
    val resp = HttpCore.shared.call("POST", batchUrl, Some((buildBatch(reqs), "application/json")),
      auth = auth)
    val answers = getResponses(resp.text)
    if (answers.size != reqs.size)
      throw new RuntimeException(s"$$batch answered ${answers.size} of " +
        s"${reqs.size} sub-requests: ${resp.text.take(200)}")
    val bad = answers.collect { case (id, status, _) if !HttpCore.succeeded(status) => (id, status) }
    if (bad.nonEmpty)
      throw new RuntimeException(
        s"$$batch sub-requests failed: ${bad.take(3).mkString(", ")}")
  }

  /** Batch body of GET sub-requests (the READ side: `odataPeek`'s sampled
    * pages in one round-trip). `urls` are service-root-relative, ids
    * 1-based. */
  def buildGetBatch(urls: Seq[String]): String =
    urls.zipWithIndex.map { case (u, i) =>
      s"""{"id":"${i + 1}","method":"GET","url":${JsonEncode.str(u)},""" +
        """"headers":{"Accept":"application/json"}}"""
    }.mkString("""{"requests":[""", ",", "]}")

  /** (id, status, body-as-json-text) per sub-response, in response order.
    * Missing bodies → "{}", a missing status → 0. */
  def getResponses(body: String): Seq[(String, Int, String)] = {
    val rs = ODataJson.parse(body).get("responses")
    if (rs == null || !rs.isArray)
      throw new RuntimeException(s"malformed $$batch response: ${body.take(200)}")
    (0 until rs.size).map { i =>
      val r = rs.get(i)
      (Option(r.get("id")).map(_.asText).getOrElse(""),
        Option(r.get("status")).map(_.asInt).getOrElse(0),
        Option(r.get("body")).map(_.toString).getOrElse("{}"))
    }
  }
}
