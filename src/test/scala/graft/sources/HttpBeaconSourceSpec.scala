package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.DataFrame

import graft.{BeaconFixtures, SparkTestBase}
import graft.jobs.{BeaconPipeline, JsonlBeaconSource}

/** A1–A3 through a REAL HTTP round trip: a local stub beacon node serves the
  * public REST API shapes, built by INVERTING the flat fixture rows into API
  * envelopes — so [[HttpBeaconSource]]'s forward mapping is verified
  * row-for-row against the independently-parsed [[JsonlBeaconSource]] on the
  * identical fixture day (no network leaves the JVM; the reference's analog
  * is the exporter CLI against a provider URI, `build_export_dag.py:104-168`).
  */
class HttpBeaconSourceSpec extends SparkTestBase {

  private def sortedJson(df: DataFrame): Seq[String] =
    df.toJSON.collect().toSeq.sorted

  private def withStub[A](nSlots: Int, nValidators: Int)(f: String => A): A = {
    val stub = new BeaconApiStub(nSlots, nValidators)
    try f(stub.baseUri) finally stub.stop()
  }

  private def fixtureDir(nSlots: Int, nValidators: Int): String = {
    val dir = tmpDir("http-fixtures")
    BeaconFixtures.writeDay(dir, nSlots, nValidators)
    dir
  }

  test("blocks: HTTP rows == JSONL rows, including skipped slots (A1)") {
    val dir = fixtureDir(64, 4)
    withStub(64, 4) { uri =>
      val http = new HttpBeaconSource(BeaconApiConfig(Seq(uri), fetchTasks = 4))
      val viaHttp = http.blocks(spark, (0L, 63L))
      val viaJsonl = new JsonlBeaconSource(dir).blocks(spark, (0L, 63L))
      assert(viaHttp.schema === viaJsonl.schema)
      assert(sortedJson(viaHttp) === sortedJson(viaJsonl))
      // skipped slots must still emit rows (blocks_count invariant)
      assert(viaHttp.filter("skipped").count() > 0)
    }
  }

  test("committees + validators: HTTP rows == JSONL rows (A2/A3)") {
    val dir = fixtureDir(128, 5)
    withStub(128, 5) { uri =>
      val http = new HttpBeaconSource(BeaconApiConfig(Seq(uri), fetchTasks = 3))
      val jsonl = new JsonlBeaconSource(dir)
      assert(sortedJson(http.committees(spark, (0L, 3L)))
        === sortedJson(jsonl.committees(spark, (0L, 3L))))
      assert(sortedJson(http.validators(spark, (1L, 2L)))
        === sortedJson(jsonl.validators(spark, (1L, 2L))))
      // latest = the head epoch's snapshot, resolved via /headers/head
      assert(sortedJson(http.validatorsLatest(spark))
        === sortedJson(jsonl.validatorsLatest(spark)))
    }
  }

  test("provider fallback: dead first URI falls through to the live one (E3)") {
    withStub(32, 3) { uri =>
      // port 9 (discard) refuses connections immediately
      val cfg = BeaconApiConfig(Seq("http://127.0.0.1:9", uri), fetchTasks = 2)
      val http = new HttpBeaconSource(cfg)
      assert(http.blocks(spark, (0L, 31L)).count() === 32L)
    }
  }

  test("a rate share scales every fetch task's rate limit") {
    withStub(32, 3) { uri =>
      val http = new HttpBeaconSource(
        BeaconApiConfig(Seq(uri), ratePerSecond = Some(1000.0), fetchTasks = 1))
      def seconds(src: graft.jobs.BeaconSource): Double = {
        val t0 = System.nanoTime()
        assert(src.blocks(spark, (0L, 8L)).count() === 9L)
        (System.nanoTime() - t0) / 1e9
      }
      seconds(http) // warm-up: the whole share below must show as throttling
      // one task, 9 slots, 9 requests at least: the first takes the
      // limiter's burst token and each later one waits 1 / (1000 × 0.005) s,
      // so at least 8 × 0.2 s in all
      assert(seconds(http.withRateShare(0.005)) >= 1.6)
    }
  }

  test("the rate limit counts requests, not ids: a node sees at most fetchTasks × rate + burst per second") {
    val stub = new BeaconApiStub(32, 3)
    try {
      val (rate, tasks) = (4.0, 2)
      val http = new HttpBeaconSource(
        BeaconApiConfig(Seq(stub.baseUri), ratePerSecond = Some(rate), fetchTasks = tasks))
      // slots 4..9 all have a block, so each takes two requests (header, body)
      assert(http.blocks(spark, (4L, 9L)).filter("NOT skipped").count() === 6L)
      val at = stub.requests.asScala.toSeq.sorted
      assert(at.size === 12)
      // the most requests in any one-second window opening at a request;
      // each task's limiter allows its rate plus a burst of one
      val peak = at.map(t => at.count(u => u >= t && u < t + 1000000000L)).max
      assert(peak <= tasks * rate + tasks, s"$peak requests in one second")
    } finally stub.stop()
  }

  test("single-day replay end-to-end through the HTTP source (A1-A3/E8)") {
    val work = tmpDir("http-replay")
    withStub(128, 6) { uri =>
      val http = new HttpBeaconSource(
        BeaconApiConfig(Seq(uri), ratePerSecond = Some(10000.0), fetchTasks = 4))
      BeaconPipeline.replayDay(spark, http, BeaconFixtures.GenesisDay, work)
    }
    val blocks = spark.read.parquet(s"$work/warehouse/beacon_blocks")
    // the daily export walks the WHOLE day's slot range; slots the stub
    // doesn't serve 404 like a real node's skipped slots → one row per slot
    // regardless (the blocks_count invariant), proposed rows only for the
    // fixture's non-skipped slots (every 7th of 0..127 is skipped → 18)
    val (lo, hi) = graft.model.BeaconFunctions.slotRangeForDate(BeaconFixtures.GenesisDay)
    assert(blocks.count() === hi - lo + 1)
    assert(blocks.filter("NOT skipped").count() === (128L - 18L))
    val validators = spark.read.parquet(s"$work/warehouse/beacon_validators")
    assert(validators.agg(org.apache.spark.sql.functions.max("balance"))
      .collect()(0).getDecimal(0).toPlainString === "32000000000.500000000")
  }

  test("provider fallback tries URIs in order and returns the first success (E3)") {
    var tried = Vector.empty[String]
    val out = BeaconHttp.withFallback(Seq("bad1", "bad2", "good")) { uri =>
      tried :+= uri
      if (uri.startsWith("bad")) sys.error(s"$uri down") else s"ok:$uri"
    }
    assert(out === "ok:good")
    assert(tried === Vector("bad1", "bad2", "good"))
  }

  test("fallback rethrows the last provider's error when all fail") {
    val e = intercept[RuntimeException] {
      BeaconHttp.withFallback(Seq("a", "b")) { uri => sys.error(s"$uri down"): String }
    }
    assert(e.getMessage === "b down")
  }

  test("rate limiter enforces the configured request rate (token bucket)") {
    var now = 0L // fake nanos
    var slept = 0L
    val rl = new RateLimiter(permitsPerSecond = 2, burst = 2,
      nanoTime = () => now, sleep = ns => { slept += ns; now += ns })
    rl.acquire(); rl.acquire() // burst drains free
    assert(slept === 0L)
    rl.acquire() // third must wait ~one 500ms interval
    assert(slept === 500L * 1000000L)
    now += 2000L * 1000000L // 2 s idle refills up to burst, never beyond
    val before = slept
    rl.acquire(); rl.acquire()
    assert(slept === before)
    var calls = 0
    assert(rl.throttled { calls += 1; 7 } === 7 && calls === 1)
  }
}

/** Local stub beacon node: serves the PUBLIC beacon REST API shapes from the
  * deterministic fixture day. API envelopes are generated by inverting the
  * flat exchange rows ([[BeaconFixtures]]) — the exact inverse of the mapping
  * [[BeaconApi]] implements, so the two specs check each other. uint64 fields
  * are emitted as JSON strings, as the real API does. */
final class BeaconApiStub(nSlots: Int, nValidators: Int) {

  private val m = new ObjectMapper()
  private val nEpochs = nSlots / 32

  private def parsed(lines: Seq[String]): Seq[JsonNode] = lines.map(m.readTree)
  private val blocks: Map[Long, JsonNode] =
    parsed(BeaconFixtures.blockLines(nSlots))
      .map(b => b.get("block_slot").asLong -> b).toMap
  private val committees: Map[Long, Seq[JsonNode]] =
    parsed(BeaconFixtures.committeeLines(nEpochs)).groupBy(_.get("epoch").asLong)
  private val validators: Map[Long, Seq[JsonNode]] =
    parsed(BeaconFixtures.validatorLines(nEpochs, nValidators))
      .groupBy(_.get("epoch").asLong)

  private val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  val baseUri: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** When each request arrived (`System.nanoTime`). */
  val requests = new java.util.concurrent.ConcurrentLinkedQueue[Long]()

  def stop(): Unit = server.stop(0)

  private def handle(ex: HttpExchange): Unit = {
    requests.add(System.nanoTime())
    val path = ex.getRequestURI.getPath
    val query = Option(ex.getRequestURI.getQuery).getOrElse("")
    val resp: Option[String] = path match {
      case "/eth/v1/beacon/headers/head" =>
        Some(headerJson(blocks(lastProposed)).toString)
      case s"/eth/v1/beacon/headers/$slot" =>
        blocks.get(slot.toLong).filterNot(isSkipped).map(headerJson(_).toString)
      case s"/eth/v2/beacon/blocks/$slot" =>
        blocks.get(slot.toLong).filterNot(isSkipped).map(blockJson(_).toString)
      case s"/eth/v1/beacon/states/$slot/committees" =>
        val epoch = query.stripPrefix("epoch=").toLong
        require(slot.toLong == epoch * 32, s"state id $slot != epoch start")
        committees.get(epoch).map(dataArray(_, committeeJson).toString)
      case s"/eth/v1/beacon/states/$slot/validators" =>
        val epoch = if (slot == "head") nEpochs - 1L else slot.toLong / 32
        validators.get(epoch).map(dataArray(_, validatorJson).toString)
      case _ => None
    }
    val bytes = resp.getOrElse("""{"code":404,"message":"not found"}""")
      .getBytes("UTF-8")
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(if (resp.isDefined) 200 else 404, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def isSkipped(b: JsonNode): Boolean = b.path("skipped").asBoolean(false)
  private def lastProposed: Long =
    (0L until nSlots).filterNot(s => isSkipped(blocks(s))).max

  // ---- flat row -> API envelope (inverse of BeaconApi's mapping) ----

  private def put(o: ObjectNode, k: String, v: JsonNode): Unit =
    if (v != null && !v.isNull) {
      // uint64s ride as strings in the real API
      if (v.isNumber) o.put(k, v.asText()) else o.set[ObjectNode](k, v)
    }

  private def headerJson(b: JsonNode): ObjectNode = {
    val root = m.createObjectNode()
    val msg = m.createObjectNode()
    put(msg, "slot", b.get("block_slot"))
    put(msg, "proposer_index", b.get("proposer_index"))
    put(msg, "parent_root", b.get("parent_root"))
    put(msg, "state_root", b.get("state_root"))
    root.putObject("data")
      .put("root", b.get("block_root").asText())
      .putObject("header").set[ObjectNode]("message", msg)
    root
  }

  private def blockJson(b: JsonNode): ObjectNode = {
    val msg = m.createObjectNode()
    put(msg, "slot", b.get("block_slot"))
    put(msg, "proposer_index", b.get("proposer_index"))
    put(msg, "parent_root", b.get("parent_root"))
    put(msg, "state_root", b.get("state_root"))
    val body = msg.putObject("body")
    put(body, "randao_reveal", b.get("randao_reveal"))
    put(body, "graffiti", b.get("graffiti"))
    val eth1 = body.putObject("eth1_data")
    put(eth1, "deposit_count", b.get("eth1_deposit_count"))
    put(eth1, "block_hash", b.get("eth1_block_hash"))
    put(eth1, "deposit_root", b.get("eth1_deposit_root"))
    body.set[ObjectNode]("attestations",
      mapped(b.get("attestations")) { a =>
        val o = m.createObjectNode()
        put(o, "aggregation_bits", a.get("aggregation_bits"))
        o.set[ObjectNode]("data", attData(a, ""))
        put(o, "signature", a.get("signature"))
        o
      })
    body.set[ObjectNode]("deposits",
      mapped(b.get("deposits")) { d =>
        val data = m.createObjectNode()
        for (f <- Seq("pubkey", "withdrawal_credentials", "amount", "signature"))
          put(data, f, d.get(f))
        val o = m.createObjectNode(); o.set[ObjectNode]("data", data); o
      })
    body.set[ObjectNode]("proposer_slashings",
      mapped(b.get("proposer_slashings")) { ps =>
        val o = m.createObjectNode()
        for (k <- Seq(1, 2)) {
          val hm = m.createObjectNode()
          put(hm, "slot", ps.get(s"header_${k}_slot"))
          put(hm, "proposer_index", ps.get(s"header_${k}_proposer_index"))
          o.putObject(s"signed_header_$k").set[ObjectNode]("message", hm)
        }
        o
      })
    body.set[ObjectNode]("attester_slashings",
      mapped(b.get("attester_slashings")) { as =>
        val o = m.createObjectNode()
        for (k <- Seq(1, 2)) {
          val att = m.createObjectNode()
          val idx = att.putArray("attesting_indices")
          Option(as.get(s"attestation_${k}_attesting_indices")).foreach(
            _.elements().asScala.foreach(i => idx.add(i.asText())))
          att.set[ObjectNode]("data", attData(as, s"attestation_${k}_"))
          put(att, "signature", as.get(s"attestation_${k}_signature"))
          o.set[ObjectNode](s"attestation_$k", att)
        }
        o
      })
    body.set[ObjectNode]("voluntary_exits",
      mapped(b.get("voluntary_exits")) { ve =>
        val vm = m.createObjectNode()
        put(vm, "epoch", ve.get("epoch"))
        put(vm, "validator_index", ve.get("validator_index"))
        val o = m.createObjectNode()
        o.set[ObjectNode]("message", vm)
        put(o, "signature", ve.get("signature"))
        o
      })
    val root = m.createObjectNode()
    val data = root.putObject("data")
    data.set[ObjectNode]("message", msg)
    put(data, "signature", b.get("signature"))
    root
  }

  private def attData(src: JsonNode, prefix: String): ObjectNode = {
    val d = m.createObjectNode()
    put(d, "slot", src.get(s"${prefix}slot"))
    put(d, "index", src.get(s"${prefix}index"))
    put(d, "beacon_block_root", src.get(s"${prefix}beacon_block_root"))
    val so = m.createObjectNode()
    put(so, "epoch", src.get(s"${prefix}source_epoch"))
    put(so, "root", src.get(s"${prefix}source_root"))
    if (!so.isEmpty) d.set[ObjectNode]("source", so)
    val ta = m.createObjectNode()
    put(ta, "epoch", src.get(s"${prefix}target_epoch"))
    put(ta, "root", src.get(s"${prefix}target_root"))
    if (!ta.isEmpty) d.set[ObjectNode]("target", ta)
    d
  }

  private def committeeJson(c: JsonNode): ObjectNode = {
    val o = m.createObjectNode()
    put(o, "index", c.get("index"))
    put(o, "slot", c.get("slot"))
    val vs = o.putArray("validators")
    c.get("committee").elements().asScala.foreach(v => vs.add(v.asText()))
    o
  }

  private def validatorJson(v: JsonNode): ObjectNode = {
    val o = m.createObjectNode()
    put(o, "index", v.get("validator_index"))
    put(o, "balance", v.get("balance"))
    put(o, "status", v.get("status"))
    val inner = m.createObjectNode()
    for (f <- Seq("pubkey", "withdrawal_credentials", "effective_balance",
                  "activation_eligibility_epoch", "activation_epoch",
                  "exit_epoch", "withdrawable_epoch"))
      put(inner, f, v.get(f))
    if (v.has("slashed")) inner.put("slashed", v.get("slashed").asBoolean())
    o.set[ObjectNode]("validator", inner)
    o
  }

  private def mapped(arr: JsonNode)(f: JsonNode => ObjectNode): ArrayNode = {
    val out = m.createArrayNode()
    if (arr != null && !arr.isNull)
      arr.elements().asScala.foreach(e => out.add(f(e)))
    out
  }

  private def dataArray(rows: Seq[JsonNode], f: JsonNode => ObjectNode): ObjectNode = {
    val root = m.createObjectNode()
    val arr = root.putArray("data")
    rows.foreach(r => arr.add(f(r)))
    root
  }
}
