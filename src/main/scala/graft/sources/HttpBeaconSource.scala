package graft.sources

import scala.annotation.tailrec
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}

import graft.io.BeaconIO
import graft.jobs.BeaconSource
import graft.model.{BeaconFunctions, BeaconSchemas}

/** Ingestion client config — the Spark analog of the reference's export
  * variables (`/root/reference/dags/ethereum2etl_airflow/variables.py:15-21`:
  * `provider_uris`, `export_max_workers`, `export_rate_limit`).
  *
  * @param providerUris  beacon-node base URIs tried in order per request
  *                      (E3 fallback — `build_export_dag.py:210-224`)
  * @param ratePerSecond optional per-task limit on requests sent per
  *                      second (a block takes two; a fallback attempt
  *                      counts); like the reference's per-worker
  *                      `export_rate_limit`, the aggregate rate is
  *                      `fetchTasks × ratePerSecond`. The daily export fetches
  *                      its entities at once and splits this rate between
  *                      them ([[BeaconSource.withRateShare]]), so the
  *                      aggregate holds
  * @param fetchTasks    Spark partitions the slot/epoch range is split into —
  *                      the `export_max_workers` analog, except workers are
  *                      cluster-wide tasks instead of one machine's threads
  */
final case class BeaconApiConfig(
    providerUris: Seq[String],
    ratePerSecond: Option[Double] = None,
    fetchTasks: Int = 8,
    connectTimeoutMs: Int = 10000,
    readTimeoutMs: Int = 60000)

/** A1–A3 over a real beacon-node HTTP API ([[BeaconSource]] impl).
  *
  * The reference shells out to an exporter CLI per entity
  * (`build_export_dag.py:104-168`); here the fetch itself is a Spark job:
  * the slot/epoch range becomes a `spark.range` split into
  * [[BeaconApiConfig.fetchTasks]] partitions, each executor task walks its
  * sub-range with one HTTP client, per-task rate limiting ([[RateLimiter]])
  * and provider fallback ([[BeaconHttp.withFallback]]), and emits rows in
  * the exporter's flat JSONL exchange shape. Parsing stays schema-declared
  * ([[BeaconIO.readJsonl]]) — byte-identical semantics to the fixture path,
  * so everything downstream (export/load/verify) is source-agnostic.
  *
  * Scale: fetch parallelism is the partition count — 1000 executors fetch
  * 1000 slot sub-ranges concurrently, bounded per-task by the limiter; no
  * driver-side row materialization anywhere (the one driver-side HTTP call
  * is the head-slot probe in [[validatorsLatest]], the analog of the
  * reference's range-service call).
  *
  * Endpoints are the public beacon-node REST API:
  * `/eth/v1/beacon/headers/{slot}` (block root + header; 404 = skipped
  * slot), `/eth/v2/beacon/blocks/{slot}` (body), `/eth/v1/beacon/states/
  * {slot}/committees?epoch=`, `/eth/v1/beacon/states/{slot}/validators`.
  */
final class HttpBeaconSource(cfg: BeaconApiConfig) extends BeaconSource {

  def blocks(spark: SparkSession, r: (Long, Long)): DataFrame =
    readLines(spark, BeaconSchemas.beaconBlocks,
      fetchRange(spark, r, BeaconApi.exportBlock))

  def committees(spark: SparkSession, r: (Long, Long)): DataFrame =
    readLines(spark, BeaconSchemas.beaconCommittees,
      fetchRange(spark, r, BeaconApi.exportCommittees))

  def validators(spark: SparkSession, r: (Long, Long)): DataFrame =
    readLines(spark, BeaconSchemas.beaconValidators,
      fetchRange(spark, r, BeaconApi.exportValidators))

  override private[graft] def withRateShare(share: Double): BeaconSource =
    new HttpBeaconSource(cfg.copy(ratePerSecond = cfg.ratePerSecond.map(_ * share)))

  /** A2 (daily form) — the full CURRENT validator set: resolve the head
    * epoch with one driver-side metadata call (the reference daily DAG's
    * `start_epoch=None` — `build_export_dag.py:135-143`), then fetch that
    * single state snapshot as a one-partition job (one state = one HTTP
    * response; there is no finer server-side split to parallelize over). */
  def validatorsLatest(spark: SparkSession): DataFrame = {
    val headSlot = BeaconApi.headSlot(new BeaconHttp(cfg))
    val epoch = headSlot / BeaconFunctions.SlotsPerEpoch
    readLines(spark, BeaconSchemas.beaconValidators,
      fetchRange(spark, (epoch, epoch), BeaconApi.exportValidators))
  }

  /** Distribute ids [lo, hi] over `fetchTasks` partitions (range split —
    * no shuffle) and fetch each id on its executor. `fn` lives on a static
    * object so the task closure captures only (cfg, fn-ref). */
  private def fetchRange(spark: SparkSession, r: (Long, Long),
                         fn: (BeaconHttp, Long) => Iterator[String]): Dataset[String] = {
    val local = cfg
    val n = math.max(1, math.min(cfg.fetchTasks, (r._2 - r._1 + 1).toInt))
    spark.range(r._1, r._2 + 1, 1, n).mapPartitions { ids =>
      // the client and its limiter are per-task executor state:
      // connections and tokens never serialize into the plan
      val http = new BeaconHttp(local)
      ids.flatMap(id => fn(http, id))
    }(Encoders.STRING)
  }

  private def readLines(spark: SparkSession,
                        schema: org.apache.spark.sql.types.StructType,
                        lines: Dataset[String]): DataFrame =
    spark.read.schema(schema)
      .option("timestampFormat", BeaconIO.TimestampFormat)
      .option("mode", "PERMISSIVE")
      .json(lines)
}

/** One-per-task HTTP client: JDK `HttpURLConnection` (keep-alive reuse,
  * zero added dependencies) with provider fallback. 404 is a VALID answer
  * (skipped slot / pre-genesis state), so only transport errors and non-404
  * statuses trigger the next provider. The client holds its task's rate
  * limiter and takes one permit per request sent, a fallback attempt
  * included, so a node sees at most `ratePerSecond` requests per second
  * from each task however many requests one id takes. */
final class BeaconHttp(cfg: BeaconApiConfig) {

  val mapper = new ObjectMapper()

  private val limiter = cfg.ratePerSecond.map(new RateLimiter(_))

  /** GET `base + path` → Some(parsed JSON) | None on 404. */
  def getJson(path: String): Option[JsonNode] =
    BeaconHttp.withFallback(cfg.providerUris) { base =>
      limiter.foreach(_.acquire())
      val url = java.net.URI.create(base + path).toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setConnectTimeout(cfg.connectTimeoutMs)
      conn.setReadTimeout(cfg.readTimeoutMs)
      conn.setRequestProperty("Accept", "application/json")
      try {
        conn.getResponseCode match {
          case 200 =>
            val in = conn.getInputStream
            try Some(mapper.readTree(in)) finally in.close()
          case 404 => None
          case code =>
            throw new java.io.IOException(s"GET $url -> HTTP $code")
        }
      } finally conn.disconnect()
    }
}

object BeaconHttp {

  /** E3 — try each provider URI in order until one succeeds
    * (`build_export_dag.py:210-224`); the last one's error propagates. */
  private[sources] def withFallback[A](providerUris: Seq[String])(f: String => A): A = {
    require(providerUris.nonEmpty, "at least one provider uri required")
    @tailrec def loop(remaining: Seq[String]): A = remaining match {
      case Seq(last) => f(last)
      case head +: tail =>
        scala.util.Try(f(head)) match {
          case scala.util.Success(a) => a
          case scala.util.Failure(e) =>
            System.err.println(s"[fallback] provider $head failed: ${e.getMessage}")
            loop(tail)
        }
    }
    loop(providerUris)
  }
}

/** Token-bucket limiter for the ingestion client — the reference's
  * optional `export_rate_limit` (`variables.py:20-21`, plumbed into every
  * export command at `build_export_dag.py:25,82,96,115`).
  * `permitsPerSecond` tokens accrue continuously up to `burst`;
  * [[RateLimiter.acquire]] blocks until one is available. Each fetch task's
  * [[BeaconHttp]] holds its own limiter, so the aggregate rate is
  * `tasks × rate`, the same semantics as the reference's per-worker limit.
  * Clock and sleep injectable for deterministic tests. */
private[sources] final class RateLimiter(
    permitsPerSecond: Double, burst: Int = 1,
    nanoTime: () => Long = () => System.nanoTime(),
    sleep: Long => Unit = ns => Thread.sleep(ns / 1000000L, (ns % 1000000L).toInt)) {
  require(permitsPerSecond > 0 && burst >= 1)
  private val intervalNanos = (1e9 / permitsPerSecond).toLong
  private var available = burst.toDouble // guarded by this
  private var last = nanoTime()

  def acquire(): Unit = synchronized {
    refill()
    while (available < 1.0) {
      sleep(((1.0 - available) * intervalNanos).toLong)
      refill()
    }
    available -= 1.0
  }

  def throttled[A](f: => A): A = { acquire(); f }

  private def refill(): Unit = {
    val now = nanoTime()
    available = math.min(burst.toDouble,
      available + (now - last).toDouble / intervalNanos)
    last = now
  }
}

/** Beacon-API envelope → flat exchange-row mapping, field-for-field the
  * reference's load schemas ([[BeaconSchemas]]). Static (executor-callable
  * without closure capture); all JSON is built with Jackson so escaping is
  * always valid. */
object BeaconApi {

  import BeaconFunctions.{GenesisTime, SecondsPerSlot, SlotsPerEpoch}

  private def isoTs(slot: Long): String =
    GenesisTime.plusSeconds(slot * SecondsPerSlot).toString

  private def str(n: JsonNode, field: String): Option[String] =
    Option(n.get(field)).filterNot(_.isNull).map(_.asText())

  /** Head slot via `/eth/v1/beacon/headers/head` — the driver-side
    * "current epoch" probe. */
  def headSlot(http: BeaconHttp): Long =
    http.getJson("/eth/v1/beacon/headers/head")
      .getOrElse(throw new java.io.IOException("no head header"))
      .path("data").path("header").path("message").path("slot").asText().toLong

  /** One slot → one flat `beacon_blocks` line. A 404 from the headers
    * endpoint means the slot was skipped: emit the 4-field skipped row the
    * exporter emits (slot/epoch/timestamp/skipped — timestamps are slot
    * arithmetic, never fetched). */
  def exportBlock(http: BeaconHttp, slot: Long): Iterator[String] = {
    val m = http.mapper
    val row = m.createObjectNode()
    row.put("block_slot", slot)
    row.put("block_epoch", slot / SlotsPerEpoch)
    row.put("block_timestamp", isoTs(slot))
    http.getJson(s"/eth/v1/beacon/headers/$slot") match {
      case None =>
        row.put("skipped", true)
      case Some(hdr) =>
        val blk = http.getJson(s"/eth/v2/beacon/blocks/$slot")
          .getOrElse(throw new java.io.IOException(
            s"header exists but block missing for slot $slot"))
        val msg = blk.path("data").path("message")
        val body = msg.path("body")
        row.put("skipped", false)
        row.put("proposer_index", msg.path("proposer_index").asText().toLong)
        str(hdr.path("data"), "root").foreach(row.put("block_root", _))
        str(msg, "parent_root").foreach(row.put("parent_root", _))
        str(msg, "state_root").foreach(row.put("state_root", _))
        str(body, "randao_reveal").foreach(row.put("randao_reveal", _))
        str(body, "graffiti").foreach(row.put("graffiti", _))
        val eth1 = body.path("eth1_data")
        str(eth1, "block_hash").foreach(row.put("eth1_block_hash", _))
        str(eth1, "deposit_root").foreach(row.put("eth1_deposit_root", _))
        str(eth1, "deposit_count").foreach(c => row.put("eth1_deposit_count", c.toLong))
        str(blk.path("data"), "signature").foreach(row.put("signature", _))
        row.set[ObjectNode]("attestations",
          mapArray(m, body.path("attestations"))(flatAttestation(m, _, "")))
        row.set[ObjectNode]("deposits",
          mapArray(m, body.path("deposits")) { d =>
            val data = d.path("data")
            val o = m.createObjectNode()
            str(data, "pubkey").foreach(o.put("pubkey", _))
            str(data, "withdrawal_credentials").foreach(o.put("withdrawal_credentials", _))
            str(data, "amount").foreach(a => o.put("amount", a.toLong))
            str(data, "signature").foreach(o.put("signature", _))
            o
          })
        // proposer-slashing hex roots/signatures are declared FLOAT by the
        // reference's schema (`beacon_blocks.json:168-214`) — unrepresentable
        // there and so omitted (NULL) here, the same data loss BQ applies
        row.set[ObjectNode]("proposer_slashings",
          mapArray(m, body.path("proposer_slashings")) { ps =>
            val o = m.createObjectNode()
            for (k <- Seq(1, 2)) {
              val h = ps.path(s"signed_header_$k").path("message")
              str(h, "slot").foreach(s => o.put(s"header_${k}_slot", s.toLong))
              str(h, "proposer_index").foreach(p => o.put(s"header_${k}_proposer_index", p.toLong))
            }
            o
          })
        row.set[ObjectNode]("attester_slashings",
          mapArray(m, body.path("attester_slashings")) { as =>
            val o = m.createObjectNode()
            for (k <- Seq(1, 2)) {
              val a = as.path(s"attestation_$k")
              val idx = o.putArray(s"attestation_${k}_attesting_indices")
              a.path("attesting_indices").elements().asScala
                .foreach(i => idx.add(i.asText().toLong))
              val flat = flatAttestation(m, a, "")
              flat.properties().asScala.foreach { e =>
                if (e.getKey != "aggregation_bits")
                  o.set[ObjectNode](s"attestation_${k}_${e.getKey}", e.getValue)
              }
              str(a, "signature").foreach(o.put(s"attestation_${k}_signature", _))
            }
            o
          })
        row.set[ObjectNode]("voluntary_exits",
          mapArray(m, body.path("voluntary_exits")) { ve =>
            val msg = ve.path("message")
            val o = m.createObjectNode()
            str(msg, "epoch").foreach(e => o.put("epoch", e.toLong))
            str(msg, "validator_index").foreach(v => o.put("validator_index", v.toLong))
            str(ve, "signature").foreach(o.put("signature", _))
            o
          })
    }
    Iterator.single(m.writeValueAsString(row))
  }

  /** One epoch → its committee rows (state id = the epoch's first slot). */
  def exportCommittees(http: BeaconHttp, epoch: Long): Iterator[String] = {
    val m = http.mapper
    val stateSlot = epoch * SlotsPerEpoch
    http.getJson(s"/eth/v1/beacon/states/$stateSlot/committees?epoch=$epoch") match {
      case None => Iterator.empty
      case Some(resp) =>
        resp.path("data").elements().asScala.map { c =>
          val row = m.createObjectNode()
          row.put("epoch", epoch)
          row.put("epoch_timestamp", isoTs(stateSlot))
          row.put("slot", c.path("slot").asText().toLong)
          row.put("index", c.path("index").asText().toLong)
          val members = row.putArray("committee")
          c.path("validators").elements().asScala
            .foreach(v => members.add(v.asText().toLong))
          m.writeValueAsString(row)
        }
    }
  }

  /** One epoch → its validator-snapshot rows. Balances pass through as the
    * provider's decimal strings (schema-declared read casts to NUMERIC);
    * `*_epoch` fields STAY strings — the FAR_FUTURE uint64 sentinel
    * overflows int64 ([[BeaconFunctions.FarFutureEpoch]]). */
  def exportValidators(http: BeaconHttp, epoch: Long): Iterator[String] = {
    val m = http.mapper
    val stateSlot = epoch * SlotsPerEpoch
    http.getJson(s"/eth/v1/beacon/states/$stateSlot/validators") match {
      case None => Iterator.empty
      case Some(resp) =>
        resp.path("data").elements().asScala.map { v =>
          val row = m.createObjectNode()
          row.put("epoch", epoch)
          row.put("timestamp", isoTs(stateSlot))
          val inner = v.path("validator")
          str(inner, "pubkey").foreach(row.put("pubkey", _))
          str(v, "index").foreach(i => row.put("validator_index", i.toLong))
          str(v, "balance").foreach(row.put("balance", _))
          str(inner, "withdrawal_credentials").foreach(row.put("withdrawal_credentials", _))
          str(inner, "effective_balance").foreach(row.put("effective_balance", _))
          if (inner.has("slashed")) row.put("slashed", inner.path("slashed").asBoolean())
          for (f <- Seq("activation_eligibility_epoch", "activation_epoch",
                        "exit_epoch", "withdrawable_epoch"))
            str(inner, f).foreach(row.put(f, _))
          str(v, "status").foreach(row.put("status", _))
          m.writeValueAsString(row)
        }
    }
  }

  private def flatAttestation(m: ObjectMapper, a: JsonNode, prefix: String): ObjectNode = {
    val d = a.path("data")
    val o = m.createObjectNode()
    str(a, "aggregation_bits").foreach(o.put(s"${prefix}aggregation_bits", _))
    str(d, "slot").foreach(s => o.put(s"${prefix}slot", s.toLong))
    str(d, "index").foreach(i => o.put(s"${prefix}index", i.toLong))
    str(d, "beacon_block_root").foreach(o.put(s"${prefix}beacon_block_root", _))
    str(d.path("source"), "epoch").foreach(e => o.put(s"${prefix}source_epoch", e.toLong))
    str(d.path("source"), "root").foreach(o.put(s"${prefix}source_root", _))
    str(d.path("target"), "epoch").foreach(e => o.put(s"${prefix}target_epoch", e.toLong))
    str(d.path("target"), "root").foreach(o.put(s"${prefix}target_root", _))
    str(a, "signature").foreach(o.put(s"${prefix}signature", _))
    o
  }

  private def mapArray(m: ObjectMapper, arr: JsonNode)(f: JsonNode => ObjectNode): ArrayNode = {
    val out = m.createArrayNode()
    arr.elements().asScala.foreach(e => out.add(f(e)))
    out
  }
}
