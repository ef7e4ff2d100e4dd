package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}

/**
 * C51: exact classifier evaluation at corpus scale — the QA step before
 * a quality/toxicity/language classifier is unleashed on 100 TB of
 * crawl: is its score actually separating the labeled classes?
 *
 * AUC is computed exactly via the Mann–Whitney rank-sum identity
 *
 *   AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻)
 *
 * where R⁺ is the sum of the positives' ranks under ascending score,
 * ties taking the AVERAGE rank of their tie group. Everything stays in
 * integer arithmetic by carrying 2·R⁺ (twice an average rank of a tie
 * group is the integer 2·cumBefore + cnt + 1), and the single final
 * division happens driver-side in BigInt — so the result is bit-exact
 * and engine-portable (the DuckDB oracle reproduces it with a window
 * cumulative sum).
 *
 * Scale shape: the naive formulation ranks every ROW with a global
 * `row_number() OVER (ORDER BY score)` — one task sorting the corpus.
 * Here rows first melt into one combining aggregate per DISTINCT score
 * (map-side combine: the only shuffle is |distinct scores| rows of
 * three longs), the tie-group cumulative counts come from the
 * distributed prefix-sum pattern (range sort on score, O(partitions)
 * driver longs — `CorpusPipeline.packedSequenceSpans` shape), and the
 * final reduce is three longs. No single-task sort, no per-row window,
 * nothing collected but partition subtotals and the 3-long result.
 */
object Evaluation {

  /**
   * Exact ROC-AUC of integer `scoreCol` against {0,1} `labelCol`.
   * Returns one row: n_pos, n_neg, r2_pos (= 2·R⁺), auc_ppm
   * (⌊AUC·10⁶⌋). Degenerate labelings (no positives or no negatives)
   * return auc_ppm NULL rather than a division blow-up.
   */
  def exactAuc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val spark = df.sparkSession
    val byScore = df
      .select(col(scoreCol).cast(LongType).as("s"), col(labelCol).cast(LongType).as("y"))
      .filter(col("s").isNotNull && col("y").isNotNull)
      .groupBy("s")
      .agg(count(lit(1)).as("c"), sum("y").as("p"))
    val sorted = byScore
      .repartitionByRange(spark.sparkContext.defaultParallelism, col("s"))
      .sortWithinPartitions("s")
    val rdd = sorted.rdd
    val partCounts = rdd
      .mapPartitionsWithIndex { case (pi, it) =>
        var rows = 0L
        it.foreach(rows += _.getLong(1))
        Iterator((pi, rows))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = spark.sparkContext.broadcast(partCounts.scanLeft(0L)(_ + _))
    // per tie group: positives contribute p · (2·cumBefore + c + 1) to 2·R⁺
    val (r2pos, npos, n) = rdd
      .mapPartitionsWithIndex { case (pi, it) =>
        var acc = offsets.value(pi)
        it.map { r =>
          val c = r.getLong(1); val p = r.getLong(2)
          val before = acc
          acc += c
          (p * (2 * before + c + 1), p, c)
        }
      }
      .fold((0L, 0L, 0L)) { case ((a1, a2, a3), (b1, b2, b3)) => (a1 + b1, a2 + b2, a3 + b3) }
    val nneg = n - npos
    // one row: BigInt keeps n⁺·n⁻ exact past the Long range
    val aucPpm: Any =
      if (npos == 0L || nneg == 0L) null
      else ((BigInt(r2pos) - BigInt(npos) * (npos + 1)) * 1000000 /
        (BigInt(2) * npos * nneg)).toLong
    spark.createDataFrame(
      java.util.Collections.singletonList(Row(npos, nneg, r2pos, aucPpm)),
      StructType(Seq(
        StructField("n_pos", LongType),
        StructField("n_neg", LongType),
        StructField("r2_pos", LongType),
        StructField("auc_ppm", LongType))))
  }

  /**
   * C63: calibration table (reliability diagram, integer-exact) — AUC
   * says the scorer RANKS well; calibration says whether the score
   * VALUE means what a threshold-picker assumes. Scores bin into
   * `bins` equal-width cells over the observed [min, max] (width
   * `(max−min+1) div bins`-ish via the floor-mapped index below, so
   * both engines place every score identically); each row reports the
   * cell's population, its positive rate (ppm), and its floor-mean
   * score. One min/max aggregate (two longs to the driver — the fetch
   * doubles as the cache pin for the binning pass) + one combining
   * group-by — no sorts, no windows.
   */
  def calibrationBins(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 1)
    val base = df
      .select(col(scoreCol).cast(LongType).as("s"), col(labelCol).cast(LongType).as("y"))
      .filter(col("s").isNotNull && col("y").isNotNull)
      .transform(Scoped.persistTracked)
    // the range is TWO longs — fetch it eagerly (which also pins the
    // persisted base for the binning pass) instead of a broadcast
    // cross join whose broadcast thread would race the cold cache and
    // recompute the upstream scorer twice
    val mmRow = base.agg(min("s"), max("s")).head()
    // empty input: literals are never applied (no groups), any value do
    val (mn, mx) =
      if (mmRow.isNullAt(0)) (0L, 0L) else (mmRow.getLong(0), mmRow.getLong(1))
    base
      .withColumn("bin",
        least(lit(bins - 1L), expr(s"(s - ${mn}L) * $bins div (${mx}L - ${mn}L + 1)")))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n"),
        sum("y").as("positives"),
        sum("s").as("__ss"))
      .withColumn("pos_rate_ppm", expr("positives * 1000000 div n"))
      // floor mean even for NEGATIVE score sums: shift by the global
      // min so the dividend is non-negative — Spark's `div` truncates
      // toward zero while SQL engines' `//` floors, and they only
      // agree on non-negative dividends
      .withColumn("mean_score", expr(s"${mn}L + (__ss - ${mn}L * n) div n"))
      .select("bin", "n", "positives", "pos_rate_ppm", "mean_score")
  }

  /**
   * C102: isotonic (monotone) calibration — the calibrator actually
   * shipped on top of a quality classifier when Platt's sigmoid is too
   * rigid: the least-squares MONOTONE step function from score to
   * P(label=1), fit by pool-adjacent-violators (PAVA). Distributed
   * shape: the corpus melts into the [[calibrationBins]] combining
   * aggregate (at most `bins` rows to the driver — a documented
   * bounded collect), PAVA runs on that bounded table with EXACT
   * rational pool comparisons (cross-multiplied Longs, no floats — the
   * unique PAVA fixpoint is order-arithmetic only), and the fitted
   * step function returns as a `bins`-row local relation (the q_c51
   * zero-scan class; the input scan happened at construction). At
   * 100 TB the only data pass is the combining bin aggregate; applying
   * the calibrator downstream is a broadcast join against this table.
   *
   * Output per occupied bin: `n`/`positives`/`raw_ppm` (the observed
   * rate) plus `iso_ppm` (the PAVA-pooled rate — nondecreasing in bin
   * by construction) and `pool_id` (which violation pool absorbed the
   * bin; 0-based ascending).
   */
  def isotonicCalibration(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      bins: Int = 8): DataFrame = {
    val spark = df.sparkSession
    val binned = calibrationBins(df, scoreCol, labelCol, bins)
      .select("bin", "n", "positives", "pos_rate_ppm")
      .orderBy("bin")
      .collect() // ≤ bins rows — the bounded-collect contract
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // PAVA, stack form: merge the top pool into its predecessor while
    // the predecessor's rate exceeds it (pos_a·n_b > pos_b·n_a — exact)
    case class Pool(var nBins: Int, var n: Long, var pos: Long)
    val stack = scala.collection.mutable.ArrayBuffer.empty[Pool]
    binned.foreach { case (_, n, pos, _) =>
      stack += Pool(1, n, pos)
      var merging = true
      while (merging && stack.length >= 2) {
        val a = stack(stack.length - 2)
        val b = stack.last
        if (a.pos * b.n > b.pos * a.n) {
          a.nBins += b.nBins; a.n += b.n; a.pos += b.pos
          stack.remove(stack.length - 1)
        } else merging = false
      }
    }
    val out = Array.newBuilder[org.apache.spark.sql.Row]
    var bi = 0
    stack.zipWithIndex.foreach { case (p, pid) =>
      val iso = p.pos * 1000000L / p.n
      var k = 0
      while (k < p.nBins) {
        val (bin, n, pos, raw) = binned(bi)
        out += org.apache.spark.sql.Row(bin, n, pos, raw, iso, pid.toLong)
        bi += 1; k += 1
      }
    }
    val schema = StructType(Seq(
      StructField("bin", LongType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("positives", LongType, nullable = false),
      StructField("raw_ppm", LongType, nullable = false),
      StructField("iso_ppm", LongType, nullable = false),
      StructField("pool_id", LongType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(out.result(): _*), schema)
  }

  /**
   * C65: exact precision/recall curve — the table a threshold-picker
   * actually reads: for every DISTINCT score `s` (the candidate
   * threshold "admit if score ≥ s"), the exact TP/FP counts and
   * integer precision/recall. AUC (one number) and calibration
   * (binned) don't answer "which cutoff gives 90% precision"; this
   * does, exactly, at one row per distinct score.
   *
   * Scale shape = [[exactAuc]]'s: rows melt into one combining
   * per-distinct-score aggregate, then the ≥-threshold cumulative
   * TP/FP come from the distributed prefix sum over DESCENDING score
   * (range partition + per-partition subtotals — two longs per
   * partition to the driver, no global window, no single-task sort).
   */
  def prCurve(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val spark = df.sparkSession
    val byScore = df
      .select(col(scoreCol).cast(LongType).as("s"), col(labelCol).cast(LongType).as("y"))
      .filter(col("s").isNotNull && col("y").isNotNull)
      .groupBy("s")
      .agg(count(lit(1)).as("c"), sum("y").as("p"))
    val sorted = byScore
      .repartitionByRange(spark.sparkContext.defaultParallelism, col("s").desc)
      .sortWithinPartitions(col("s").desc)
    val rdd = sorted.rdd
    val partTotals = rdd
      .mapPartitionsWithIndex { case (pi, it) =>
        var c = 0L; var p = 0L
        it.foreach { r => c += r.getLong(1); p += r.getLong(2) }
        Iterator((pi, c, p))
      }
      .collect().sortBy(_._1)
    // scanLeft yields n+1 entries: entry pi = exclusive offset for
    // partition pi, last entry = the global total
    val cOff = partTotals.map(_._2).scanLeft(0L)(_ + _)
    val pOff = partTotals.map(_._3).scanLeft(0L)(_ + _)
    val totalPos = pOff.last
    val bc = spark.sparkContext.broadcast((cOff, pOff))
    val outRdd = rdd.mapPartitionsWithIndex { case (pi, it) =>
      var cum = bc.value._1(pi)
      var cumP = bc.value._2(pi)
      it.map { r =>
        val s = r.getLong(0); val c = r.getLong(1); val p = r.getLong(2)
        cum += c; cumP += p
        val tp = cumP
        val fp = cum - cumP
        Row(s, tp, fp,
          if (tp + fp == 0L) null else tp * 1000000L / (tp + fp),
          if (totalPos == 0L) null else tp * 1000000L / totalPos)
      }
    }
    spark.createDataFrame(outRdd, StructType(Seq(
      StructField("threshold", LongType),
      StructField("tp", LongType),
      StructField("fp", LongType),
      StructField("precision_ppm", LongType),
      StructField("recall_ppm", LongType))))
  }
}
