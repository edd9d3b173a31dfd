package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import graft.api.GraftDB
import graft.docstore.{FieldFilter, FieldValue, Op, StructuredQuery}
import scala.collection.mutable

/** `docdb`: one client driving a GraftDB service loop.
  *
  * Set-up loads an initial collection of `InitBlocks` × `PerBlock` docs,
  * one `addDocuments` block each. Each pass runs the `MaintEvery`
  * requests of `PassMix` in a seeded order (signed adds through
  * `signedMutationRequest` → `sendMutation`, masked updates, deletes,
  * `getDoc`, structured `query` and `queryStr`), then a maintenance tick
  * (`rollup`, `compactRollups`, `snapshot`) and a bulk ingest of one event
  * batch (the corpus `events` table) through `Streaming.ingestWithRollup`.
  * The reference pass runs a tick too, so every timed tick folds the
  * mutations of the `MaintEvery` requests before it, not the initial load.
  * Half the ids read or updated come from recent writes, half uniformly.
  *
  * A shadow model of the collection checks every read: read-your-writes,
  * DocumentMask merge, deletes invisible; and the last signed add of every
  * pass is replayed, which must be rejected on its nonce. */
final class DocDb(spark: SparkSession, work: String, dataDir: String, seed: Long)
    extends Workload {
  import DocDb._

  val nominalPassS = 14.0
  private val mapper = new ObjectMapper()
  private val rnd = new scala.util.Random(seed)
  private var root = ""
  private var db: GraftDB = _
  private val live = mutable.LinkedHashMap[Long, String]()
  private val liveIdx = mutable.ArrayBuffer[Long]()
  private val everIds = mutable.ArrayBuffer[Long]()
  private val recent = mutable.ArrayBuffer[Long]()
  private val signKey = 1L + math.abs(seed % 1000003L)
  private var nonce = 0L
  private var lastSigned: (String, String) = null
  /** Replayed nonces checked in the timed passes. */
  private var replays = 0
  private var sender: String = null
  private var ingests = 0
  /** Events tail size past which an ingest also rolls the events log up:
    * half of one batch, fixed after the reference ingest, so every timed
    * ingest rolls up and none depends on how a seed's batch compresses. */
  private var ingestRollupBytes = Long.MaxValue
  /** Rows of the ingested batch: the corpus `events` table. */
  private lazy val batchRows = graft.sources.Tables.eventsRaw(spark, dataDir).count()
  private var traced = false

  // per-op bookkeeping: (kind, total ms) of each user-visible operation
  private val userOps = mutable.ArrayBuffer[(String, Double)]()
  private val maintParts = mutable.ArrayBuffer[(String, Double)]()
  private var ingestRows = 0L
  private var ingestNanos = 0L
  private var rollupsSeen = 0
  private var bytesWritten = 0L
  private var userBytes = 0L
  private var tailFilesMax = 0L

  private def doc(r: scala.util.Random, n: Long): String = {
    val g = r.nextInt(Groups)
    val body = Array.fill(4 + r.nextInt(8))(Words(r.nextInt(Words.length))).mkString(" ")
    s"""{"g":$g,"n":$n,"tag":"t${r.nextInt(7)}","body":"$body"}"""
  }

  private def remember(id: Long, d: String): Unit = {
    if (!live.contains(id)) liveIdx += id
    live(id) = d
    everIds += id
    recent += id
    if (recent.size > 64) recent.remove(0)
  }

  private def forget(id: Long): Unit = {
    live.remove(id)
    val i = liveIdx.indexOf(id)
    if (i >= 0) { liveIdx(i) = liveIdx.last; liveIdx.remove(liveIdx.size - 1) }
  }

  def setup(rep: Int): Unit = {
    root = s"$work/db$rep"
    db = new GraftDB(spark, root)
    db.createCollection(Db, Coll)
    Seq(live, everIds, recent, liveIdx).foreach(_.clear())
    nonce = 0L
    val r = new scala.util.Random(seed)
    (0 until InitBlocks).foreach { b =>
      val docs = (0 until PerBlock).map(i => doc(r, b.toLong * PerBlock + i))
      val ids = db.addDocuments(Db, Coll, docs)
      require(ids.size == docs.size, s"setup block $b: ${ids.size} ids for ${docs.size} docs")
      ids.zip(docs).foreach { case (id, d) => remember(id, d) }
    }
  }

  def warm(rec: Recorder): Unit = {
    Seq("add", "update", "delete", "get", "query", "qstr").foreach(k => runOp(rec, k))
    replayLast(rec)
    maintenance(rec)
    ingest(rec)
    ingestRollupBytes = math.max(1L, db.tailBytes(Db, EvColl) / 2)
    userOps.clear(); maintParts.clear(); ingestRows = 0L; ingestNanos = 0L; rollupsSeen = 0
    replays = 0
  }

  /** Traced iterations add the separately timed ecrecover call and the
    * byte / file accounting. */
  override def startTrace(): Unit = {
    traced = true
    bytesWritten = 0L; userBytes = 0L; tailFilesMax = 0L
    userOps.clear(); maintParts.clear(); ingestRows = 0L; ingestNanos = 0L; rollupsSeen = 0
  }

  def iteration(rec: Recorder): Unit = {
    rnd.shuffle(PassMix).foreach(k => runOp(rec, k))
    replayLast(rec)
    maintenance(rec)
    ingest(rec)
  }

  /** Any id ever assigned, deleted ones included. */
  private def pickAny(): Long =
    if (rnd.nextBoolean() && recent.nonEmpty) recent(rnd.nextInt(recent.size))
    else everIds(rnd.nextInt(everIds.size))

  private def pickLive(): Long = {
    val fromRecent = recent.filter(live.contains)
    if (rnd.nextBoolean() && fromRecent.nonEmpty) fromRecent(rnd.nextInt(fromRecent.size))
    else liveIdx(rnd.nextInt(liveIdx.size))
  }

  /** Run `f` as a write; in a traced run also count the bytes it adds. */
  private def writeOp[T](rec: Recorder, kind: String, payload: Long)(f: => T): Option[T] = {
    val before = if (traced) Fs.treeBytes(root) else 0L
    val t0 = System.nanoTime()
    val r = rec.op("api", kind)(f)
    if (r.isDefined) userOps += (("write", (System.nanoTime() - t0) / 1e6))
    if (traced) {
      bytesWritten += math.max(0L, Fs.treeBytes(root) - before)
      userBytes += payload
      tailFilesMax = math.max(tailFilesMax, Fs.treeFiles(s"$root/$Db/$Coll/mutations"))
    }
    r
  }

  private def runOp(rec: Recorder, kind: String): Unit = kind match {
    case "add" =>
      val docs = (0 until 1 + rnd.nextInt(3)).map(_ => doc(rnd, rnd.nextInt(1000000).toLong))
      nonce += 1
      val (td, sig) = GraftDB.signedMutationRequest(docs, nonce, signKey)
      if (traced)
        rec.op("functions", "ecrecover")(graft.functions.crypto.Eip712.recoverAddressOrNull(td, sig))
      writeOp(rec, "write", docs.map(_.length.toLong).sum)(db.sendMutation(Db, Coll, td, sig))
        .foreach { case (who, ids) =>
          if (sender == null) sender = who
          if (who != sender || ids.size != docs.size)
            rec.fail(s"add: sender $who / ${ids.size} ids for ${docs.size} docs")
          else ids.zip(docs).foreach { case (id, d) => remember(id, d) }
        }
      lastSigned = (td, sig)
    case "update" =>
      val id = pickLive()
      val (patch, mask) = rnd.nextInt(3) match {
        case 0 => (s"""{"n":${rnd.nextInt(1000000)}}""", Seq("n"))
        case 1 => (s"""{"tag":"u${rnd.nextInt(7)}","n":${rnd.nextInt(1000000)}}""", Seq("tag", "n"))
        case _ => (s"""{"n":${rnd.nextInt(1000000)}}""", Seq("n", "body"))
      }
      writeOp(rec, "write", patch.length.toLong)(db.updateDocuments(Db, Coll, Seq(id), Seq(patch), Seq(mask)))
        .foreach(_ => remember(id, merge(live(id), patch, mask)))
    case "delete" =>
      val id = pickLive()
      writeOp(rec, "write", 8L)(db.deleteDocuments(Db, Coll, Seq(id))).foreach(_ => forget(id))
    case "get" =>
      val id = pickAny()
      val t0 = System.nanoTime()
      rec.op("api", "get")(db.getDoc(Db, Coll, id)).foreach { got =>
        userOps += (("get", (System.nanoTime() - t0) / 1e6))
        val want = live.get(id)
        if (got.map(parse) != want.map(parse)) rec.fail(s"getDoc($id): got $got, want $want")
      }
    case "query" | "qstr" =>
      val g = rnd.nextInt(Groups)
      val t0 = System.nanoTime()
      val plan = rec.op("api", "query_plan") {
        if (kind == "query")
          db.query(Db, Coll, StructuredQuery(where = Some(FieldFilter("g", Op.Eq, FieldValue.I64(g.toLong)))))
        else db.queryStr(Db, Coll, s"/[g = $g]")
      }
      plan.flatMap(df => rec.op("docstore", "query_exec")(df.collect())).foreach { rows =>
        userOps += (("query", (System.nanoTime() - t0) / 1e6))
        val got = rows.map(_.getAs[Long]("_id")).toSet
        val want = live.collect { case (id, d) if parse(d).get("g").asInt == g => id }.toSet
        if (got != want) rec.fail(s"$kind g=$g: ${got.size} ids, want ${want.size}")
      }
  }

  /** Send the pass's last signed add again: the nonce check must reject it. */
  private def replayLast(rec: Recorder): Unit = {
    val (td, sig) = lastSigned
    val rejected =
      try { db.sendMutation(Db, Coll, td, sig); false }
      catch { case _: IllegalArgumentException => true }
    rec.check(rejected, "a replayed signed add was accepted")
    replays += 1
  }

  private def maintenance(rec: Recorder): Unit = {
    val before = if (traced) Fs.treeBytes(root) else 0L
    val parts = Seq[(String, () => Any)](
      "rollup" -> (() => db.rollup(Db, Coll)),
      "compact" -> (() => db.compactRollups(Db, Coll)),
      "snapshot" -> (() => db.snapshot(Db, Coll)))
    val ok = parts.forall { case (k, f) =>
      val t0 = System.nanoTime()
      val r = rec.op("api", k)(f())
      r.foreach(_ => maintParts += ((k, (System.nanoTime() - t0) / 1e6)))
      r.isDefined
    }
    if (ok) userOps += (("maint", maintParts.takeRight(3).map(_._2).sum))
    if (traced) bytesWritten += math.max(0L, Fs.treeBytes(root) - before)
  }

  private def rollupBatches(): Int =
    Option(new java.io.File(s"$root/$Db/$EvColl/rollups").list()).map(_.length).getOrElse(0)

  private def ingest(rec: Recorder): Unit = {
    val batches0 = rollupBatches()
    val t0 = System.nanoTime()
    rec.op("streaming", "ingest") {
      val q = graft.streaming.Streaming.ingestWithRollup(spark, dataDir, db, Db, EvColl,
        maxTailBytes = ingestRollupBytes)
      try q.processAllAvailable() finally q.stop()
      q.exception.foreach(e => throw e)
    }.foreach { _ =>
      val ns = System.nanoTime() - t0
      ingests += 1
      ingestRows += batchRows
      ingestNanos += ns
      userOps += (("ingest", ns / 1e6))
      if (rollupBatches() > batches0) rollupsSeen += 1
    }
  }

  /** Ingested documents all arrived: one untimed fold of the events
    * collection at the end of the run. */
  override def finish(rec: Recorder): Unit = {
    val n = db.collection(Db, EvColl).df.count()
    rec.check(n == ingests.toLong * batchRows,
      s"events collection holds $n docs after $ingests ingests of $batchRows")
  }

  private def parse(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)

  /** DocumentMask semantics: masked fields come from the patch, and a
    * masked field absent from the patch is removed. */
  private def merge(base: String, patch: String, mask: Seq[String]): String = {
    val b = parse(base).asInstanceOf[ObjectNode]
    val p = parse(patch)
    mask.foreach { f => if (p.has(f)) b.set(f, p.get(f)) else b.remove(f) }
    mapper.writeValueAsString(b)
  }

  override def opsMs(rec: Recorder): Seq[Double] = userOps.map(_._2).toSeq

  def endToEnd(rec: Recorder): Seq[(String, Double, String)] = {
    def of(k: String) = userOps.collect { case (`k`, ms) => ms }.toSeq
    val liveBytes = live.values.map(_.length.toLong).sum.toDouble
    Seq(
      ("write_ms_p50", Stats.pct(of("write"), 50), "ms"),
      ("write_ms_p90", Stats.pct(of("write"), 90), "ms"),
      ("get_ms_p50", Stats.pct(of("get"), 50), "ms"),
      ("get_ms_p90", Stats.pct(of("get"), 90), "ms"),
      ("query_ms_p50", Stats.pct(of("query"), 50), "ms"),
      ("maint_s", Stats.median(of("maint")) / 1e3, "s"),
      ("ingest_rows_per_s", ingestRows / (ingestNanos / 1e9), "1/s"),
      ("space_amp", Fs.treeBytes(s"$root/$Db/$Coll") / liveBytes, "x"),
      ("samples_write", of("write").size.toDouble, "count"),
      ("samples_get", of("get").size.toDouble, "count"),
      ("samples_query", of("query").size.toDouble, "count"),
      ("replay_checks", replays.toDouble, "count"))
  }

  override def layerExtras(rec: Recorder, tracer: Tracer): Map[String, Double] = {
    val calls = rec.calls.toIndexedSeq
    val (jobs, stages) = tracer.attribute(calls)
    def perCall(kinds: Set[String], per: Int): Double = {
      val idx = calls.indices.filter(i => kinds(calls(i).kind))
      if (idx.isEmpty) 0.0 else idx.map(jobs(_)).sum.toDouble / math.max(1, idx.size / per)
    }
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def part(kind: String): Double = med(maintParts.collect { case (`kind`, ms) => ms / 1e3 }.toSeq)
    def callMed(kind: String): Double = med(rec.of(kind).map(_.ms))
    val api = Layers.counters(calls, jobs, stages, "api")
    val batches = tracer.streamLog.batches.toArray(Array.empty[(Long, Long)]).toSeq
    Map(
      "api.write.jobs_per_call" -> perCall(Set("write"), 1),
      "api.get.jobs_per_call" -> perCall(Set("get"), 1),
      "api.query.jobs_per_call" -> perCall(Set("query_plan", "query_exec"), 2),
      "api.collection_plan_ms_p50" -> callMed("query_plan"),
      "docstore.exec_ms_p50" -> callMed("query_exec"),
      "api.rollup_s" -> part("rollup"),
      "api.compact_s" -> part("compact"),
      "api.snapshot_s" -> part("snapshot"),
      "api.write_amp" -> (if (userBytes == 0L) 0.0 else bytesWritten.toDouble / userBytes),
      "api.tail_files_max" -> tailFilesMax.toDouble,
      "api.shuffle_write_mb" -> api("shuffle_write_mb"),
      "api.executor_cpu_s" -> api("executor_cpu_s"),
      "api.driver_gap_s" -> api("driver_gap_s"),
      "functions.ecrecover_ms_p50" -> callMed("ecrecover"),
      "streaming.batches" -> batches.size.toDouble,
      "streaming.batch_ms_p50" -> med(batches.map(_._2.toDouble)),
      "streaming.rollups" -> rollupsSeen.toDouble)
  }
}

object DocDb {
  val Db = "bench"
  val Coll = "docs"
  val EvColl = "events"
  val Groups = 20
  val Words: Array[String] = "key agg row scan slow fast table value part hash merge batch".split(" ")
  val InitBlocks = 20
  val PerBlock = 500
  /** Requests between two maintenance ticks. */
  val MaintEvery = 16
  /** The requests of one pass, run in a seeded order before the pass's
    * maintenance tick and ingest: per eight, 2 signed adds, 1 update,
    * 1 delete, 2 gets, 1 structured query and 1 string query. */
  val PassMix: Seq[String] =
    Seq.fill(MaintEvery / 8)(Seq("add", "add", "update", "delete", "get", "get", "query", "qstr")).flatten

  /** The traced run's docdb metrics (zero on the other workloads). */
  val Extras: Seq[(String, String)] = Seq(
    "api.write.jobs_per_call" -> "count", "api.get.jobs_per_call" -> "count",
    "api.query.jobs_per_call" -> "count", "api.collection_plan_ms_p50" -> "ms",
    "docstore.exec_ms_p50" -> "ms", "api.rollup_s" -> "s", "api.compact_s" -> "s",
    "api.snapshot_s" -> "s", "api.write_amp" -> "x", "api.tail_files_max" -> "count",
    "api.shuffle_write_mb" -> "MB", "api.executor_cpu_s" -> "s", "api.driver_gap_s" -> "s",
    "functions.ecrecover_ms_p50" -> "ms", "streaming.batches" -> "count",
    "streaming.batch_ms_p50" -> "ms", "streaming.rollups" -> "count")
}
