package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, rand, regexp_replace}
import graft.pipeline.ClusterIndex

/** `olap` and `curation`: passes over a fixed query list in a seeded
  * order, each query one timed `collect()`.
  *
  * olap runs every pass on the one corpus: the input-fixture caches built
  * in set-up stay warm and the result caches are reset before each pass.
  * curation runs every pass on a fresh byte-identical copy of the corpus
  * (made outside the timed region), so every cache keyed on input files
  * misses, then builds the cluster index on that copy and appends a
  * seeded 10% delta to it. */
final class QuerySuite(spark: SparkSession, dataDir: String, work: String,
    names: Seq[String], seed: Long, curation: Boolean) extends Workload {

  private var session: SparkSession = spark
  private val expected = scala.collection.mutable.Map[String, String]()
  private val checks = scala.collection.mutable.ArrayBuffer[(String, String, String)]()
  private var pass = 0
  private val grownDir = s"$work/grown"
  private val order: Seq[String] = new scala.util.Random(seed).shuffle(names)
  /** olap passes are short (about 4 s on four cores), so a run takes
    * four of them to steady its medians. */
  val nominalPassS: Double = if (curation) 10.0 else 2.5

  /** Open the corpus on a new session. olap materializes the three
    * document collections its doc queries share (the warm input fixtures
    * of its timed passes); curation, whose passes start cold, writes the
    * grown corpus that every pass copies and appends to its index. */
  def setup(rep: Int): Unit = {
    session = spark.newSession()
    if (curation) writeGrown()
    else {
      graft.docstore.DocStore.eventsCollection(session, dataDir).df.count()
      graft.docstore.DocStore.eventsUnaryCollection(session, dataDir).df.count()
      graft.docstore.DocStore.eventsNestedCollection(session, dataDir).df.count()
    }
  }

  private def run(q: String, dir: String): Array[Row] =
    graft.SparkEntry.queries(q)(session, dir).collect()

  /** Reference pass: every query once on the corpus, its output
    * fingerprinted and, where the library declares an oracle, written
    * for the DuckDB comparison. */
  def warm(rec: Recorder): Unit = {
    graft.perfbench.CachePolicy.resetResultCaches()
    val oracles = graft.SparkEntry.oracleSql
    names.foreach { q =>
      val df = graft.SparkEntry.queries(q)(session, dataDir)
      val rows = df.collect()
      expected(q) = Fingerprint.of(rows)
      oracles.get(q).foreach { sql =>
        val out = s"$work/oracle/$q"
        session.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.parquet(out)
        checks += ((q, out, sql))
      }
    }
    if (curation) indexPass(rec, dataDir, grownDir, s"$work/idx_ref", reference = true)
  }

  /** The corpus plus a seeded 10% document delta: ids shifted by 10^7 and
    * every token suffixed `_k1`, the rule of the library's scale lane, so
    * the delta adds documents without colliding shingles. */
  private def writeGrown(): Unit = {
    Fs.deleteTree(grownDir)
    Fs.copyTree(dataDir, grownDir)
    val docs = graft.sources.Tables.documents(session, dataDir)
    val delta = docs.filter(rand(seed) < 0.1)
      .withColumn("doc_id", col("doc_id") + lit(10000000L))
      .withColumn("text", regexp_replace(col("text"), "(\\S+)", "$1_k1"))
    Fs.writeOne(docs.unionByName(delta), grownDir, "documents")
  }

  /** Build the cluster index on `dir`, append the grown corpus, and check
    * its membership against the reference pass. */
  private def indexPass(rec: Recorder, dir: String, grown: String, idx: String,
      reference: Boolean): Unit = {
    rec.op("pipeline.index", "cluster_build")(ClusterIndex.build(session, dir, idx))
    rec.op("pipeline.index", "cluster_append")(ClusterIndex.append(session, grown, idx))
    val fp = Fingerprint.of(ClusterIndex.members(session, idx).collect())
    if (reference) expected("cluster_index") = fp
    else rec.check(fp == expected("cluster_index"),
      s"cluster_index: fingerprint $fp != reference ${expected("cluster_index")}")
  }

  def iteration(rec: Recorder): Unit = {
    pass += 1
    val (dir, grown) =
      if (!curation) (dataDir, grownDir)
      else {
        val d = s"$work/pass$pass"
        Fs.copyTree(dataDir, s"$d/corpus")
        Fs.copyTree(grownDir, s"$d/grown")
        (s"$d/corpus", s"$d/grown")
      }
    graft.perfbench.CachePolicy.resetResultCaches()
    order.foreach { q =>
      rec.op(Modules.of(q), q)(run(q, dir)).foreach { rows =>
        val fp = Fingerprint.of(rows)
        if (fp != expected(q)) rec.fail(s"$q: fingerprint $fp != reference ${expected(q)}")
      }
    }
    if (curation) {
      indexPass(rec, dir, grown, s"$work/pass$pass/idx", reference = false)
      Fs.deleteTree(s"$work/pass$pass")
    }
  }

  def endToEnd(rec: Recorder): Seq[(String, Double, String)] = {
    val queryMs = rec.calls.filterNot(_.layer == "pipeline.index").map(_.ms).toSeq
    val base = Seq(("suite_geomean_s", Stats.geomean(queryMs) / 1e3, "s"))
    if (!curation) base
    else base ++ Seq(
      ("index_build_s", Stats.median(rec.of("cluster_build").map(_.nanos / 1e9)), "s"),
      ("index_append_s", Stats.median(rec.of("cluster_append").map(_.nanos / 1e9)), "s"))
  }

  override def oracleChecks: Seq[(String, String, String)] = checks.toSeq
  override def fingerprints: Seq[(String, String)] = expected.toSeq.sorted
}

object QuerySuite {
  /** The heavy-tail queries whose walls the traced run reports one by one. */
  val HeavyTail: Seq[String] = Seq("asof_join_bucketed", "dedup_ngram_jaccard")

  /** One or two queries from each of the four modules the olap workload
    * stresses: a pass is about five seconds on four cores. */
  val Olap: Seq[String] = Seq(
    "q3_topk_join", "q_window_rank",
    "doc_filter_range", "doc_patch_mask",
    "evt_decode_abi",
    "asof_join_bucketed")

  /** One query from each curation module; the cluster-index build and
    * append follow in every pass. */
  val Curation: Seq[String] = Seq(
    "dedup_ngram_jaccard", "ann_ivf", "text_bpe", "mm_phash_dedup")
}
