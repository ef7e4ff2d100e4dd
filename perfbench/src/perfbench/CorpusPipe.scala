package perfbench

import graft.operators.{CorpusPipeline, Dedup}
import graft.sources.Snapshots
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.io.File

/**
 * corpus_pipeline: an LLM-data engineer's closed loop. Each pass runs
 * the full dedup/filter pipeline, publishes its output as a snapshot
 * version and reads that version back with verification. Traced rounds
 * also time the pipeline's stages one by one on the raw corpus.
 */
final class CorpusPipe(b: Bench) extends Workload {
  private val o = b.opts

  private final case class Inputs(dir: File, truth: CorpusGen.Truth, publishTo: File)

  private var warmIn: Inputs = _
  private var main: Inputs = _
  private var lastVersion = -1L
  private val candidatePairs = scala.collection.mutable.ArrayBuffer[Long]()
  private val verifiedPairs = scala.collection.mutable.ArrayBuffer[Long]()
  private val published = scala.collection.mutable.ArrayBuffer[(Long, Long)]() // (files, bytes)

  private def write(name: String, stream: Long, docs: Int): Inputs = {
    val dir = b.dir(name)
    val t = CorpusGen.writeSet(dir, o.seed, stream, docs, o.int("files"), o.int("vocab"),
      o.double("zipf_s"), o.double("len_mu"), o.double("len_sigma"), o.double("exact_dup_share"),
      o.double("near_dup_share"), o.double("edit_share"), o.double("pii_share"))
    Gen.writeText(new File(b.dir(name + "-truth"), "truth.json"), t.json + "\n")
    Inputs(dir, t, b.dir(name + "-snapshots"))
  }

  def genWarm(): Unit = warmIn = write("warm-corpus", 1, 300)
  def gen(): Unit = main = write("corpus", 2, o.int("docs"))

  private def docs(in: Inputs): DataFrame = b.spark.read.parquet(in.dir.getPath)

  def warm(): Unit = {
    if (o.trace) stages(warmIn)
    pass(warmIn)
  }

  def measure(): Unit = {
    b.closedLoop {
      // the stage-by-stage calls feed only the per-layer metrics
      if (o.trace) stages(main)
      pass(main)
    }
    finalChecks(main)
  }

  /** One pipeline pass: run, publish, read back verified. */
  private def pass(in: Inputs): Unit = {
    val spark = b.spark
    val version = b.call("operators.pipeline", "graft.operators") {
      CorpusPipeline.runAndRelease(docs(in)) { out =>
        b.call("sources.publish", "graft.sources")(Snapshots.publish(out, in.publishTo.getPath))
      }
    }.flatten
    version.foreach { v =>
      lastVersion = v
      if (in eq main) {
        val files = new File(in.publishTo, s"v=$v").listFiles().filter(_.getName.endsWith(".parquet"))
        published += ((files.length.toLong, files.map(_.length).sum))
      }
      b.call("sources.read_verify", "graft.sources") {
        Snapshots.read(spark, in.publishTo.getPath, v, verify = true)
      }
    }
  }

  /** The pipeline's stages, each timed on its own over the raw corpus. */
  private def stages(in: Inputs): Unit = {
    val d = docs(in)
    b.call("functions.redact_pii", "graft.functions") {
      CorpusPipeline.redactPii(d).write.format("noop").mode("overwrite").save()
    }
    b.call("functions.annotate", "graft.functions") {
      CorpusPipeline.annotate(d).write.format("noop").mode("overwrite").save()
    }
    b.call("operators.exact_dedup", "graft.operators")(Dedup.exact(d, "text", "doc_id").count())
      .foreach(n => b.check("exact dedup keeps one document per distinct text")(
        n == in.truth.distinctTexts, s"got $n want ${in.truth.distinctTexts}"))
    val cands = Dedup.minhashCandidates(d, "doc_id", "text").cache()
    try {
      b.call("operators.minhash_candidates", "graft.operators")(cands.count())
        .foreach(n => if (in eq main) candidatePairs += n)
      b.call("operators.verify_pairs", "graft.operators") {
        Dedup.verifyJaccard(cands, d, "doc_id", "text", 0.8).count()
      }.foreach(n => if (in eq main) verifiedPairs += n)
    } finally cands.unpersist(blocking = true)
    b.call("operators.near_dedup", "graft.operators")(Dedup.dropNearDuplicates(d, "doc_id", "text").count())
  }

  /** Checks on the measured inputs that need no timed call. */
  private def finalChecks(in: Inputs): Unit = {
    val spark = b.spark
    val d = docs(in)
    val distinct = Dedup.exact(d, "text", "doc_id").count()
    b.check("exact dedup keeps one document per distinct text")(
      distinct == in.truth.distinctTexts, s"got $distinct want ${in.truth.distinctTexts}")
    b.check("the published snapshot passes verify")(
      lastVersion > 0 && Snapshots.read(spark, in.publishTo.getPath, lastVersion, verify = true) != null)
    val kept = Snapshots.read(spark, in.publishTo.getPath, lastVersion)
      .agg(count(lit(1)), countDistinct(col("text"))).head()
    b.check("no two kept documents share a text")(
      kept.getLong(0) == kept.getLong(1) && kept.getLong(0) > 0, s"kept $kept")
    val leaked = Snapshots.read(spark, in.publishTo.getPath, lastVersion)
      .filter(col("text").rlike("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[a-z]{2,}")).count()
    b.check("no e-mail address survives redaction")(leaked == 0, s"$leaked documents")
  }

  /** Pass time: pipeline (including its publish) plus the verified read. */
  private def passTimes(traced: Boolean): Seq[Double] = {
    val runs = b.calls.filter(c => c.name == "operators.pipeline" && c.traced == traced).map(_.seconds)
    val reads = b.calls.filter(c => c.name == "sources.read_verify" && c.traced == traced).map(_.seconds)
    runs.zip(reads).map { case (a, r) => a + r }.toSeq
  }

  /** Documents per second of pass time: the median over passes. */
  def endToEnd: EndToEnd = {
    val t = passTimes(traced = false)
    EndToEnd(main.truth.docs / Stats.median(t), "pipeline_docs_per_s", t, "pipeline_pass")
  }

  def tracedUnits: Int = b.roundTimes.count(_._2)

  def traceOverheadFrac: Double = Report.roundOverhead(b)

  def layerMetrics: Seq[Metric] = {
    def med(name: String) = Report.tracedMedian(b, name)
    val pipelineSelf = b.calls.filter(c => c.name == "operators.pipeline" && c.traced).map(_.seconds)
      .zip(b.calls.filter(c => c.name == "sources.publish" && c.traced).map(_.seconds))
      .map { case (p, pub) => p - pub }.toSeq
    val cands = if (candidatePairs.isEmpty) Double.NaN else Stats.median(candidatePairs.map(_.toDouble).toSeq)
    val verified = if (verifiedPairs.isEmpty) Double.NaN else Stats.median(verifiedPairs.map(_.toDouble).toSeq)
    Seq(
      Metric("functions.redact_pii_s", med("functions.redact_pii"), "s"),
      Metric("functions.annotate_s", med("functions.annotate"), "s"),
      Metric("operators.exact_dedup_s", med("operators.exact_dedup"), "s"),
      Metric("operators.minhash_candidates_s", med("operators.minhash_candidates"), "s"),
      Metric("operators.candidate_pairs", cands, "count"),
      Metric("operators.verified_pairs", verified, "count"),
      Metric("operators.candidate_precision", verified / cands, "ratio"),
      Metric("operators.verify_pairs_s", med("operators.verify_pairs"), "s"),
      Metric("operators.near_dedup_s", med("operators.near_dedup"), "s"),
      Metric("operators.pipeline_s",
        if (pipelineSelf.isEmpty) Double.NaN else Stats.median(pipelineSelf), "s"),
      Metric("sources.publish_s", med("sources.publish"), "s"),
      Metric("sources.publish_files",
        if (published.isEmpty) Double.NaN else Stats.median(published.map(_._1.toDouble).toSeq), "count"),
      Metric("sources.publish_bytes",
        if (published.isEmpty) Double.NaN else Stats.median(published.map(_._2.toDouble).toSeq), "bytes"),
      Metric("sources.read_verify_s", med("sources.read_verify"), "s"))
  }
}
