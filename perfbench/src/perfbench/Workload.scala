package perfbench

import org.apache.spark.sql.Row

/** What every workload gives the runner. `setup` is timed (several
  * repetitions, median reported), `warm` is the untimed reference pass
  * and must leave the correctness references in place, `iteration` is
  * one timed pass. */
trait Workload {
  /** Seconds of `--seconds` per timed pass: `--seconds` divided by it,
    * rounded, gives the number of timed passes. */
  def nominalPassS: Double
  def setup(rep: Int): Unit
  def warm(rec: Recorder): Unit
  def iteration(rec: Recorder): Unit
  /** Workload-specific end-to-end figures of the untraced phase, printed
    * as a report beside the generic metrics. */
  def endToEnd(rec: Recorder): Seq[(String, Double, String)]
  /** Workload-specific layer metrics of the traced phase, by name. */
  def layerExtras(rec: Recorder, tracer: Tracer): Map[String, Double] = Map.empty
  /** Oracle comparisons left for the DuckDB side: (query, result dir, sql). */
  def oracleChecks: Seq[(String, String, String)] = Nil
  /** Order-independent fingerprints of reference outputs. */
  def fingerprints: Seq[(String, String)] = Nil
  /** Latency of every user-visible operation of the untraced phase. */
  def opsMs(rec: Recorder): Seq[Double] = rec.calls.map(_.ms).toSeq
  /** Called once before the traced phase. */
  def startTrace(): Unit = ()
  /** Untimed checks once all iterations ran. */
  def finish(rec: Recorder): Unit = ()
}

object Fingerprint {
  /** "<row count>:<md5 of the sorted row renderings>". */
  def of(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(r => md.update(r.getBytes("UTF-8")))
    s"${rows.length}:" +
      md.digest().map(b => String.format(java.util.Locale.ROOT, "%02x", Byte.box(b))).mkString
  }
}

/** The module (layer) that defines each query of `SparkEntry.queries`. */
object Modules {
  private val byModule: Seq[(String, Set[String])] = Seq(
    "docstore" -> graft.docstore.DocQueries.all.keySet,
    "events" -> graft.events.EventQueries.all.keySet,
    "operators" -> graft.operators.OperatorQueries.all.keySet,
    "pipeline.dedup" -> graft.pipeline.Dedup.all.keySet,
    "pipeline.ann" -> (graft.pipeline.Ann.all.keySet ++ graft.pipeline.Pca.all.keySet),
    "pipeline.text" -> (graft.pipeline.TextOps.all.keySet ++ graft.pipeline.Bpe.all.keySet),
    "pipeline.curation" ->
      (graft.pipeline.Curation.all.keySet ++ graft.pipeline.Multimodal.all.keySet))

  def of(q: String): String =
    byModule.collectFirst { case (m, qs) if qs(q) => m }.getOrElse("analytics")

  /** Layers that report the ten stage counters, on every workload. */
  val Layers: Seq[String] = Seq("analytics", "docstore", "events", "operators",
    "pipeline.dedup", "pipeline.ann", "pipeline.text", "pipeline.curation", "pipeline.index")
}
