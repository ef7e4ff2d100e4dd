package graft.queries

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.operators.{Dedup, Multimodal, Similarity}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * C-tier LLM-data-pipeline queries (SURVEY.md §2 C1-C12) over the
 * `documents`/`embeddings` tables. Near-dup queries plant known
 * duplicates (shifted ids) so recall is oracle-checkable; ANN queries
 * use integer-quantized vectors (`floor(x*1000)`) so dot products are
 * exact integers and cosine ranks are bit-identical across engines.
 */
object CQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Text-compute-heavy paths: spread the single-row-group local file
   * across cores (no-op semantics; values unchanged). */
  private def docsPar(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).repartition(s.sparkContext.defaultParallelism)
  private def embs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // C1: exact dedup keeps the min-id row per duplicate text
    "q_c1_dedup_exact" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val dups = d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val deduped = Dedup.exact(d.union(dups), "text", "doc_id")
      deduped.agg(
        count(lit(1)).as("survivors"),
        sum("doc_id").as("sum_ids"))
    }),

    // C2: MinHash+LSH candidates must recover all planted near-dups
    "q_c2_minhash_lsh" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val planted = d.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), (col("doc_id") + 100000).as("dup_id"))
      val dups = d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" xtra xtra xtra")).as("text"))
      val cands = Dedup.minhashCandidates(d.union(dups), "doc_id", "text",
        numHashes = 64, bands = 16, shingleSize = 3,
        parallelism = s.sparkContext.defaultParallelism)
      planted.join(cands,
          planted("doc_id") === cands("id_a") && planted("dup_id") === cands("id_b"),
          "left_semi")
        .agg(count(lit(1)).as("recovered"))
        .crossJoin(planted.agg(count(lit(1)).as("planted")))
        .select("planted", "recovered")
    }),

    // C3: SimHash candidates recover exact copies (hamming 0)
    "q_c3_simhash" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val planted = d.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), (col("doc_id") + 200000).as("dup_id"))
      val dups = d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 200000).as("doc_id"), col("text"))
      val cands = Dedup.simhashCandidates(d.union(dups), "doc_id", "text", maxHamming = 3,
        parallelism = s.sparkContext.defaultParallelism)
      planted.join(cands,
          planted("doc_id") === cands("id_a") && planted("dup_id") === cands("id_b"),
          "left_semi")
        .agg(count(lit(1)).as("recovered"))
        .crossJoin(planted.agg(count(lit(1)).as("planted")))
        .select("planted", "recovered")
    }),

    // C4: exact word-set Jaccard pairs (bounded subset, same language)
    "q_c4_ngram_jaccard" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 60)
        .select(col("doc_id"), col("lang"),
          array_distinct(TF.tokens(col("text"))).as("words"))
      val a = d.select(col("lang"), col("doc_id").as("id_a"), col("words").as("wa"))
      val b = d.select(col("lang"), col("doc_id").as("id_b"), col("words").as("wb"))
      a.join(b, Seq("lang"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(Dedup.jaccard(col("wa"), col("wb")), 3).as("jac"))
        .filter(col("jac") >= 0.5)
        .orderBy("id_a", "id_b")
    }),

    // C91: asymmetric containment — every 13th doc gets a planted
    // 12-token-prefix excerpt twin (+700000): the excerpt's shingles
    // are a subset of the original's, so contain_a/b hits 10⁶ where
    // Jaccard would be diluted by the size gap. hashKeys=true (r19):
    // 8-byte xxhash64 shingle keys ride the dominant exchange — the
    // 100 TB plan the operator ships; spec-pinned output-identical to
    // the string-key mode, and the md5-keyed oracle still replays the
    // same result.
    "q_c91_containment" -> ((s, dir) => {
      val base = docs(s, dir).select("doc_id", "text")
      val excerpts = base.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 700000L).as("doc_id"),
          concat_ws(" ", slice(TF.tokens(col("text")), 1, 12)).as("text"))
      Dedup.containmentPairs(base.union(excerpts), hashKeys = true)
        .orderBy("id_a", "id_b")
    }),

    // C5: embedding near-dup pairs (planted identical copies, exact int math)
    // C26: near-dup clustering — connected components over the same
    // verified Jaccard pairs as q_c4, giving each transitive family a
    // canonical id + size (the cluster view pairwise dedup can't see)
    "q_c26_components" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 60)
        .select(col("doc_id"), col("lang"),
          array_distinct(TF.tokens(col("text"))).as("words"))
      val a = d.select(col("lang"), col("doc_id").as("id_a"), col("words").as("wa"))
      val b = d.select(col("lang"), col("doc_id").as("id_b"), col("words").as("wb"))
      val pairs = a.join(b, Seq("lang"))
        .filter(col("id_a") < col("id_b"))
        .filter(round(Dedup.jaccard(col("wa"), col("wb")), 3) >= 0.5)
        .select("id_a", "id_b")
      Dedup.connectedComponents(pairs, loopPartitions = 4)
        .groupBy("component")
        .agg(count(lit(1)).as("size"))
        .orderBy("component")
    }),

    // C26 scale path: the same clustering through alternating
    // large-star/small-star contraction — O(log² n) rounds instead of
    // O(diameter), same per-round join shape, same oracle
    "q_c26b_components_star" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 60)
        .select(col("doc_id"), col("lang"),
          array_distinct(TF.tokens(col("text"))).as("words"))
      val a = d.select(col("lang"), col("doc_id").as("id_a"), col("words").as("wa"))
      val b = d.select(col("lang"), col("doc_id").as("id_b"), col("words").as("wb"))
      val pairs = a.join(b, Seq("lang"))
        .filter(col("id_a") < col("id_b"))
        .filter(round(Dedup.jaccard(col("wa"), col("wb")), 3) >= 0.5)
        .select("id_a", "id_b")
      Dedup.connectedComponentsStar(pairs, loopPartitions = 4)
        .groupBy("component")
        .agg(count(lit(1)).as("size"))
        .orderBy("component")
    }),

    // C54: quality-aware dedup over the same verified families —
    // keep each family's LONGEST member (n_chars argmax, id tiebreak)
    // instead of its min id: the keep rule real crawl dedup wants.
    "q_c54_keep_best" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 60)
        .select(col("doc_id"), col("lang"),
          array_distinct(TF.tokens(col("text"))).as("words"))
      val a = d.select(col("lang"), col("doc_id").as("id_a"), col("words").as("wa"))
      val b = d.select(col("lang"), col("doc_id").as("id_b"), col("words").as("wb"))
      val pairs = a.join(b, Seq("lang"))
        .filter(col("id_a") < col("id_b"))
        .filter(round(Dedup.jaccard(col("wa"), col("wb")), 3) >= 0.5)
        .select("id_a", "id_b")
      Dedup.keepBest(pairs, docs(s, dir).select("doc_id", "n_chars"),
          "doc_id", "n_chars", loopPartitions = 4)
        .orderBy("component")
    }),

    // C55: int8 scalar quantization QA — per-vector scale, code L1
    // mass, and exact reconstruction error from one codegen pass.
    "q_c55_int8_quant" -> ((s, dir) => {
      embs(s, dir).filter(col("vec_id") < 200)
        .select(col("vec_id"), VF.quantize(col("embedding")).as("qv"))
        .select(col("vec_id"),
          graft.functions.Int8QuantStats(col("qv")).as("st"))
        .select(col("vec_id"), col("st")(0).as("maxabs"),
          col("st")(1).as("code_l1"), col("st")(2).as("err_sq"))
        .orderBy("vec_id")
    }),

    "q_c5_embed_neardup" -> ((s, dir) => {
      val e = embs(s, dir).filter(col("vec_id") < 1000)
        .select(col("vec_id"), VF.quantize(col("embedding")).as("qv"))
      val dups = e.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 10000).as("vec_id"), col("qv"))
      // norms once per row (not per pair); repartition spreads the
      // single-file parquet across cores for the quadratic stage
      val all = e.union(dups)
        .withColumn("nq", VF.dotLong(col("qv"), col("qv")))
        .repartition(s.sparkContext.defaultParallelism)
      val a = all.select(col("vec_id").as("id_a"), col("qv").as("va"), col("nq").as("na"))
      val b = all.select(col("vec_id").as("id_b"), col("qv").as("vb"), col("nq").as("nb"))
      a.crossJoin(b)
        .filter(col("id_a") < col("id_b"))
        .withColumn("cos",
          VF.dotLong(col("va"), col("vb")).cast(DoubleType) /
            sqrt(col("na").cast(DoubleType) * col("nb").cast(DoubleType)))
        .filter(col("cos") >= 0.95)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    }),

    // C6: brute-force cosine top-k per query (quantized — exact ranks)
    "q_c6_ann_brute" -> ((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), VF.quantize(col("embedding")).as("qv"))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("qv").as("va"))
      val c = e.select(col("vec_id").as("neighbor_id"), col("qv").as("vb"))
      val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
      broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
        .withColumn("cos",
          VF.dotLong(col("va"), col("vb")).cast(DoubleType) /
            sqrt(VF.dotLong(col("va"), col("va")).cast(DoubleType) *
              VF.dotLong(col("vb"), col("vb")).cast(DoubleType)))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("neighbor_id"), round(col("cos"), 6).as("cosine"),
          col("rank"))
        .orderBy("query_id", "rank")
    }),

    // C7: LSH-bucketed ANN — arithmetic hyperplanes + quantized vectors
    // make bucket assignment AND the reranked top-k exactly reproducible
    // in the DuckDB oracle (full hash check, not rows-only)
    "q_c7_ann_lsh" -> ((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), VF.quantize(col("embedding")).as("qv"))
      Similarity.lshTopKArith(e, e.filter(col("vec_id") < 5), "vec_id", "qv",
          k = 5, bits = 4, dim = 64)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"),
          col("rank"))
        .orderBy("query_id", "rank")
    }),

    // C7b: IVF ANN with deterministic sampled-seed centroids — cell
    // assignment (integer affinity 2·v·c − ‖c‖²) and the exact-cosine
    // rerank are both reproducible in DuckDB → full hash check of an
    // inverted-file index, not rows-only
    "q_c7b_ann_ivf" -> ((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), VF.quantize(col("embedding")).as("qv"))
      Similarity.ivfTopKSeeded(e, e.filter(col("vec_id") < 5), "vec_id", "qv",
          k = 5, nSeeds = 16, probes = 2)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"),
          col("rank"))
        .orderBy("query_id", "rank")
    }),

    // C7c: IVF-PQ — product-quantized in-cell scoring (8 subspaces × 16
    // seeded centroids over the 64-dim embeddings), ADC approximate
    // rank to depth 24, exact-cosine rerank to top-5. Integer-exact
    // end-to-end; the oracle replays cells, codes, ADC and rerank.
    "q_c7c_ann_ivfpq" -> ((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), VF.quantize(col("embedding")).as("qv"))
      Similarity.ivfPqTopKSeeded(e, e.filter(col("vec_id") < 5), "vec_id", "qv",
          k = 5, nSeeds = 16, probes = 2, m = 8, ks = 16, rerankDepth = 24)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"),
          col("rank"))
        .orderBy("query_id", "rank")
    }),

    // C7d: the IVF index as a published artifact — build + publish the
    // inverted file (id, vec, cell, is_seed) as a snapshot version
    // (per-cell manifest stats = the balance data card), then serve
    // the probe batch from the PINNED version. Output-identical to
    // q_c7b by construction (same seeds/cells/rerank), so both share
    // one oracle; what THIS row proves is the publish→read→probe loop.
    "q_c7d_ann_published" -> ((s, dir) => {
      val base = Scratch.dir("ivfidx")
      val e = embs(s, dir).select(col("vec_id"), VF.quantize(col("embedding")).as("qv"))
      val v = Similarity.publishIvfIndex(e, "vec_id", "qv", base, nSeeds = 16)
      val idx = graft.sources.Snapshots.read(s, base, v)
      Similarity.ivfTopKIndexed(idx, e.filter(col("vec_id") < 5), "vec_id", "qv",
          k = 5, probes = 2)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"),
          col("rank"))
        .orderBy("query_id", "rank")
    }),

    // C7e: PQ probe of the published index — the warm-start closure
    // for the PQ path (C7d gave it to the exact-dot path): codebooks
    // from the artifact's is_seed rows, candidates pre-assigned via
    // its cell column, so a probe batch pays only the map-only PqCodes
    // encode. Output-identical to q_c7c by construction → shared
    // oracle; what THIS row proves is the publish→read→PQ-probe loop.
    "q_c7e_ann_pq_published" -> ((s, dir) => {
      val base = Scratch.dir("ivfpq")
      val e = embs(s, dir).select(col("vec_id"), VF.quantize(col("embedding")).as("qv"))
      val v = Similarity.publishIvfIndex(e, "vec_id", "qv", base, nSeeds = 16)
      val idx = graft.sources.Snapshots.read(s, base, v)
      Similarity.ivfPqTopKIndexed(idx, e.filter(col("vec_id") < 5), "vec_id", "qv",
          k = 5, probes = 2, m = 8, ks = 16, rerankDepth = 24)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"),
          col("rank"))
        .orderBy("query_id", "rank")
    }),

    // C81: IVF index-maintenance audit — a third of the corpus is
    // planted ONTO vector 0's exact position (+500000 ids), so one
    // cell goes hot and must emit the deterministic two-extremes
    // split proposal (min-id member + farthest member); healthy cells
    // emit NULL seeds. Exact integer affinities and L2² → full hash.
    "q_c81_ivf_audit" -> ((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), VF.quantize(col("embedding")).as("qv"))
      val v0 = e.filter(col("vec_id") === 0).select(col("qv").as("qv0"))
      val planted = e.filter(col("vec_id") % 3 === 0)
        .crossJoin(broadcast(v0))
        .select((col("vec_id") + 500000L).as("vec_id"), col("qv0").as("qv"))
      graft.operators.Similarity.ivfAudit(
        e.union(planted), "vec_id", "qv", nSeeds = 16, hotFactor = 2)
    }),

    // C47: distributed Lloyd k-means (3 assignment rounds, 2 integer
    // floor-avg centroid updates, driver holds only the 8×64 matrix) —
    // summary per cell: member count, min id, and the exact
    // v·centroid(cell) long sum as a membership fingerprint.
    "q_c47_kmeans" -> ((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), VF.quantize(col("embedding")).as("qv"))
      graft.operators.Clustering.lloydAssign(e, "vec_id", "qv", k = 8, rounds = 3)
        .groupBy("cell")
        .agg(count(lit(1)).as("n_members"), min("vec_id").as("min_id"),
          sum("dot").as("dot_sum"))
        .orderBy("cell")
    }),

    // C67: dominant-direction extraction ("all-but-the-top") — 3
    // power-iteration rounds over the mean-centered quantized
    // embeddings; the driver holds only the 64-long direction vector,
    // each round is ONE map-side aggregate (no join, no per-round
    // shuffle). The emitted (comp, s) rows fingerprint every round's
    // integer renormalization exactly.
    "q_c67_top_component" -> ((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), VF.quantize(col("embedding")).as("qv"))
      graft.operators.Embeddings.topComponent(e, "vec_id", "qv", dim = 64, rounds = 3)
    }),

    // C72: hard-negative mining — for 5 probe vectors, the 5 most
    // cosine-similar embeddings with a DIFFERENT label (contrastive-
    // training negatives). Broadcast probes, one candidate scan, label
    // inequality on the join condition; exact integer dots so the
    // oracle replays the ranks bit-for-bit.
    "q_c72_hard_negatives" -> ((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), col("label"),
        VF.quantize(col("embedding")).as("qv"))
      graft.operators.Similarity.hardNegatives(
          e, e.filter(col("vec_id") < 5), "vec_id", "qv", "label", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("query_id", "rank")
    }),

    // C72b: IVF-fronted hard negatives — the corpus-scale front for
    // q_c72: candidates route to their nearest seeded cell once,
    // queries probe their 2 best of 16 cells, label inequality as a
    // post-join residual on a broadcast HASH join (not BNLJ). Cell
    // affinity and cosines are exact integer math → full hash check.
    "q_c72b_hard_negatives_ivf" -> ((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), col("label"),
        VF.quantize(col("embedding")).as("qv"))
      graft.operators.Similarity.hardNegativesIvf(
          e, e.filter(col("vec_id") < 5), "vec_id", "qv", "label", k = 5,
          nSeeds = 16, probes = 2)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("query_id", "rank")
    }),

    // C73: margin-based pair mining (Artetxe & Schwenk — the CCMatrix
    // bitext criterion): side B = the first 300 vectors deterministically
    // perturbed (+3 on every 7th dim, id+100000), so every x has a known
    // near-aligned y that must win on MARGIN (hubness cancels); ranks
    // and margins computed on 6-dp-rounded cosines with fixed two-term
    // float association — both engines evaluate identically.
    "q_c73_margin_pairs" -> ((s, dir) => {
      val base = embs(s, dir).filter(col("vec_id") < 300)
        .select(col("vec_id"), VF.quantize(col("embedding")).as("qv"))
      // perturb BEFORE renaming the id: a lambda's outer col("vec_id")
      // in the same select resolves against the select's OUTPUT alias
      // (the +100000 id), silently changing which dims get bumped
      val ys = base
        .withColumn("qv", transform(col("qv"), (x, i) =>
          x + when((col("vec_id") + i + 1) % 7 === 0, 3L).otherwise(0L)))
        .select((col("vec_id") + 100000L).as("vec_id"), col("qv"))
      graft.operators.Similarity.marginPairs(base, ys, "vec_id", "qv", topPairs = 50)
    }),

    // C75: JL ±1 random projection + measured recall — project 64-dim
    // quantized vectors to 16 integer dims (deterministic LCG-parity
    // signs, the q_c7 plane formula) and rank the projected-space
    // top-5 per probe, flagging which survive from the full-space
    // top-5: the compression/recall trade measured, not assumed.
    "q_c75_jl_recall" -> ((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), VF.quantize(col("embedding")).as("qv"))
      val pv = graft.operators.Embeddings.jlProject(e, "vec_id", "qv", dim = 64, outDim = 16)
      def top5(df: DataFrame, vc: String): DataFrame = {
        val q = df.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col(vc).as("va"))
        val c = df.select(col("vec_id").as("neighbor_id"), col(vc).as("vb"))
        val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
        broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
          .withColumn("cos",
            VF.dotLong(col("va"), col("vb")).cast(DoubleType) /
              sqrt(VF.dotLong(col("va"), col("va")).cast(DoubleType) *
                VF.dotLong(col("vb"), col("vb")).cast(DoubleType)))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select("query_id", "neighbor_id", "cos", "rank")
      }
      val proj = top5(pv, "pv")
      val full = top5(e, "qv")
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      proj.join(full, Seq("query_id", "neighbor_id"), "left")
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cos"), 6).as("proj_cosine"),
          coalesce(col("hit"), lit(0)).as("hit"))
        .orderBy("query_id", "rank")
    }),

    // C99: retrieval-aware semantic packing — the in-context-
    // pretraining layout: docs route to seeded IVF cells, each cell's
    // stream concat-chunks into 256-token packs in (md5, id) order;
    // per pack: docs touching it, distinct langs (cohesion), tokens.
    "q_c99_semantic_pack" -> ((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), VF.quantize(col("embedding")).as("qv"))
      graft.operators.CorpusPipeline.semanticPack(docsPar(s, dir), e, seqLen = 256)
    }),

    // C99b: hot-cell sub-split packing (the C81 split proposal —
    // r13 verdict stretch): cells over 200 docs split into
    // ceil(n/200) md5-residue sub-streams before the pack layout, so
    // nSeeds stays a pure retrieval knob; the oracle replays the
    // count table, residues, and per-(cell, subcell) prefix sums.
    "q_c99b_semantic_pack_split" -> ((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), VF.quantize(col("embedding")).as("qv"))
      graft.operators.CorpusPipeline.semanticPack(docsPar(s, dir), e,
        seqLen = 256, maxCellDocs = 200L)
    }),

    // C96: Matryoshka prefix-truncation recall — exact top-5 per probe
    // at prefix lengths 8/16/32/64 vs the full-64-dim ground truth:
    // the "can we serve truncated vectors" decision curve (C75's JL
    // sibling measures the data-independent projection instead).
    "q_c96_matryoshka_recall" -> ((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), VF.quantize(col("embedding")).as("qv"))
      graft.operators.Embeddings.matryoshkaRecall(
        e, "vec_id", "qv", dims = Seq(8, 16, 32, 64), k = 5, nProbes = 5)
    }),

    // C76: semantic decontamination — the embedding-space eval-leak
    // filter (paraphrases slip past C16's n-gram overlap, not past
    // cosine): drop corpus vectors within cos ≥ 0.98 of any benchmark
    // vector. Planted leaks: perturbed copies of the 40 benchmark
    // vectors (id+300000) must all be dropped along with the benchmark
    // members themselves; random vectors never reach 0.98.
    "q_c76_semantic_decontam" -> ((s, dir) => {
      val base = embs(s, dir).select(col("vec_id"), col("label"),
        VF.quantize(col("embedding")).as("qv"))
      val planted = base.filter(col("vec_id") < 40)
        .withColumn("qv", transform(col("qv"), (x, i) =>
          x + when((i + 1) % 5 === 0, 2L).otherwise(0L)))
        .select((col("vec_id") + 300000L).as("vec_id"), col("label"), col("qv"))
      val bench = base.filter(col("vec_id") < 40).select("qv").collect()
        .map(_.getSeq[Long](0).toArray)
      graft.operators.Similarity.semanticDecontaminate(
          base.unionByName(planted), bench, "qv", tau = 0.98)
        .groupBy("label")
        .agg(count(lit(1)).as("survivors"), sum("vec_id").as("sum_ids"))
        .orderBy("label")
    }),

    // C71: anisotropy ablation profile — the same fitted dominant
    // direction (C67's fixed-round power iteration), then ONE extra
    // map-side aggregate over the already-persisted centered frame:
    // per label, projection mass (p = x·v div 65536), its square sum
    // and the total mass x·x — the integer variance-explained table
    // that justifies all-but-the-top removal per corpus slice.
    "q_c71_ablation" -> ((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), col("label"),
        VF.quantize(col("embedding")).as("qv"))
      graft.operators.Embeddings.ablationStats(e, "vec_id", "qv", "label",
        dim = 64, rounds = 3)
    }),

    // C49: cluster labeling — the q_c47 assignment joined 1:1 to
    // documents (vec_id = doc_id), top-5 ≥4-char lowercase tokens per
    // cell by (count DESC, term): the "what is this cluster about"
    // step after topic bucketing. The assignment side is corpus-keyed,
    // so the join co-partitions on doc_id — linear at any scale.
    "q_c49_cluster_labels" -> ((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), VF.quantize(col("embedding")).as("qv"))
      val assign = graft.operators.Clustering.lloydAssign(e, "vec_id", "qv", k = 8, rounds = 3)
        .select(col("vec_id").as("doc_id"), col("cell"))
      val counts = docs(s, dir).join(assign, "doc_id")
        .select(col("cell"), explode(TF.tokens(lower(col("text")))).as("term"))
        .filter(length(col("term")) >= 4)
        .groupBy("cell", "term").agg(count(lit(1)).as("cnt"))
      // salted two-phase top-5: cells are structurally FEW (the C99
      // lesson), so a per-cell rank window funnels the whole label
      // vocabulary through nSeeds sort tasks (r13 verdict #3)
      graft.operators.CorpusPipeline
        .topNPerKey(counts, Seq(col("cell")), col("term"),
          Seq(col("cnt").desc, col("term")), n = 5)
        .select(col("cell"), col("rank"), col("term"), col("cnt"))
        .orderBy("cell", "rank")
    }),

    // C48: materialized training sequences — learned-BPE vocabulary ids
    // (same deterministic 100-merge codec as q_c11b) concatenated in
    // doc_id order, cut into 128-id blocks, each fingerprinted; the
    // dynamic oracle pins every block from the independent driver-side
    // BpeCodec.encodeIds replay.
    "q_c48_pack_ids" -> ((s, dir) => {
      val codec = graft.functions.Bpe.learnFromCorpus(
        docs(s, dir), "doc_id", "text", numMerges = 100, sampleDocs = 500)
      graft.operators.CorpusPipeline.packTokenIds(docsPar(s, dir), codec, seqLen = 128)
        .orderBy("seq_no")
    }),

    // C8: multimodal binary plumbing — byte-level features on text
    // payloads, plus REAL WAV decode (javax.sound.sampled) on synthetic
    // per-doc PCM whose features have a DuckDB-computable closed form
    // (duration 100+id%80 ms, RMS 100+(id%50)·10, 44+16·(100+id%80)
    // bytes). ONE scan: both extractions chain over the same rows
    // (prefixed feature columns), one aggregate, no self-join.
    "q_c8_multimodal" -> ((s, dir) => {
      val withBlob = docs(s, dir)
        .select(col("doc_id"), col("source"), encode(substring(col("text"), 1, 64), "UTF-8").as("media"))
      val wav = Multimodal.withSyntheticWav(withBlob, "doc_id")
      val feats = Multimodal.extractFeatures(
        Multimodal.extractFeatures(wav, "doc_id", "media"),
        "doc_id", "wav", prefix = "wav_")
      feats.groupBy("source")
        .agg(
          count(lit(1)).as("docs"),
          sum("media_len").as("total_bytes"),
          sum("head_byte").as("head_sum"),
          sum("byte_sum").as("payload_sum"),
          sum(col("wav_audio_ms").cast(LongType)).as("total_ms"),
          sum(col("wav_audio_rms").cast(LongType)).as("total_rms"),
          min("wav_audio_rate").as("rate_min"),
          max("wav_audio_channels").as("ch_max"),
          sum("wav_media_len").as("wav_bytes"))
        .orderBy("source")
    }),

    // C8b: REAL video container demux — synthetic per-doc AVIs
    // (3+id%5 frames of 16 constant bytes) go through the RIFF demuxer
    // and the frame explode; sampled-frame counts/byte sums/indices
    // have closed forms, so the demux path is hash-checked end to end.
    "q_c8b_video_demux" -> ((s, dir) => {
      val avi = Multimodal.withSyntheticAvi(
        docs(s, dir).select(col("doc_id"), col("source")), "doc_id")
      val frames = Multimodal.sampleFrames(avi, "doc_id", "video", frames = 4)
      Multimodal.extractFeatures(frames.drop("video"), "doc_id", "frame", prefix = "f_")
        .groupBy("source")
        .agg(
          count(lit(1)).as("frames_sampled"),
          sum("f_byte_sum").as("frame_bytes"),
          sum(col("frame_idx").cast(LongType)).as("idx_sum"))
        .orderBy("source")
    }),

    // C8d: REAL MP4/ISO-BMFF demux — synthetic per-doc MP4s with the
    // SAME frame closed form as q_c8b's AVIs (3+id%5 samples of 16
    // constant bytes), resolved through the moov→trak→stbl sample
    // table (stsz/stsc/stco); identical oracle algebra, so the box
    // walk is hash-checked end to end.
    "q_c8d_mp4_demux" -> ((s, dir) => {
      val mp4 = Multimodal.withSyntheticMp4(
        docs(s, dir).select(col("doc_id"), col("source")), "doc_id")
      val frames = Multimodal.sampleFrames(mp4, "doc_id", "video", frames = 4)
      Multimodal.extractFeatures(frames.drop("video"), "doc_id", "frame", prefix = "f_")
        .groupBy("source")
        .agg(
          count(lit(1)).as("frames_sampled"),
          sum("f_byte_sum").as("frame_bytes"),
          sum(col("frame_idx").cast(LongType)).as("idx_sum"))
        .orderBy("source")
    }),

    // C8c: REAL raster resize — solid-colour synthetic PNGs (dims and
    // RGB closed forms of doc_id) go through decode → exact area-average
    // to 2×2 → PNG re-encode → decode; solid colour survives the box
    // filter exactly, so resized dims/luma hash-check the whole
    // decode→resize→re-encode path against SQL-computable values.
    "q_c8c_resize" -> ((s, dir) => {
      val png = Multimodal.withSyntheticPng(
        docs(s, dir).select(col("doc_id"), col("source")), "doc_id")
      val rs = Multimodal.resizeImage(png, "img", targetW = 2, targetH = 2)
      Multimodal.extractFeatures(rs.drop("img"), "doc_id", "resized", prefix = "r_")
        .groupBy("source")
        .agg(
          count(lit(1)).as("docs"),
          sum(col("r_img_width").cast(LongType)).as("w_sum"),
          sum(col("r_img_height").cast(LongType)).as("h_sum"),
          sum(col("r_img_luma_mean").cast(LongType)).as("luma_sum"),
          sum(col("r_head_byte").cast(LongType)).as("head_sum"))
        .orderBy("source")
    }),

    // C86: perceptual image near-dedup — synthetic step-edge PNGs
    // (edge position a closed form of doc_id; 2-in-16 docs are
    // bottom-quarter-shifted near-duplicate variants at hamming 4)
    // through REAL decode → exact area-average to 9×8 → integer luma →
    // dHash, then exact-then-near grouping: identical hashes collapse
    // to a representative BEFORE the banded hamming join (the
    // image-dedup scale shape — the near search runs over distinct
    // signatures, never raw rows). The oracle computes every hash
    // ANALYTICALLY from doc_id arithmetic — an independent check of
    // the whole raster chain, not a replay.
    "q_c86_image_neardup" -> ((s, dir) => {
      // repartition the BARE id column before the codec chain: the
      // single-row-group tier file would otherwise run 500k PNG
      // encodes+decodes in ONE task (the r9 single-split class), and
      // shuffling longs costs nothing next to the codec work
      val png = Multimodal.withSyntheticEdgePng(
        docs(s, dir).select(col("doc_id"))
          .repartition(s.sparkContext.defaultParallelism), "doc_id")
      val sig = Multimodal.dHash(png, "img").select(col("doc_id"), col("dhash"))
        .transform(graft.operators.Scoped.persistTracked)
      sig.count() // pin: the rep aggregate AND the join-back both consume it
      val own = graft.operators.Dedup.signatureOwners(sig, "doc_id", "dhash", maxHamming = 6)
      sig.join(own, "dhash")
        .select(col("doc_id"), col("dhash"), col("owner"))
        .orderBy("doc_id")
    }),

    // C9: language ID heuristic vs labeled lang
    "q_c9_lang_id" -> ((s, dir) => {
      docsPar(s, dir)
        // materialize pad+lower once; the CASE arms then test a bound
        // attribute instead of re-padding per branch
        .withColumn("__padded", concat(lit(" "), lower(col("text")), lit(" ")))
        .select(col("lang"),
          TF.langIdPadded(col("text"), col("__padded")).as("predicted"))
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("lang", "predicted")
    }),

    // C10: quality-scoring features per source (docsPar: stopwordCount's
    // higher-order filter runs interpreted per token — must use all cores)
    "q_c10_quality" -> ((s, dir) => {
      docsPar(s, dir)
        .groupBy("source")
        .agg(
          count(lit(1)).as("docs"),
          sum(TF.charCount(col("text")).cast(LongType)).as("chars"),
          sum(TF.punctCount(col("text")).cast(LongType)).as("puncts"),
          sum(TF.stopwordCount(col("text")).cast(LongType)).as("stops"))
        .withColumn("avg_len", col("chars").cast(DoubleType) / col("docs"))
        .orderBy("source")
    }),

    // C11: token counts per source — whitespace words and the BPE-style
    // pre-tokenizer segments (subword-budget estimate)
    "q_c11_tokens" -> ((s, dir) => {
      docsPar(s, dir)
        .groupBy("source")
        .agg(
          sum(TF.tokenCount(col("text")).cast(LongType)).as("tokens"),
          sum(TF.bpeTokenCount(col("text")).cast(LongType)).as("bpe_tokens"))
        .orderBy("source")
    }),

    // C11b: REAL learned-merge BPE — merges trained driver-side on a
    // deterministic 500-doc sample, applied by the codegen'd
    // BpeTokenCount expression. The merge LOOP is not SQL-expressible,
    // but the result is deterministic, so the oracle is generated at
    // Verify time ([[dynamicOracleSql]]): literal VALUES pinned by the
    // independent BpeCodec.encode path. 100 merges (not more) so the
    // synthetic vocab is NOT fully merged — learned counts must differ
    // from pre-token counts for the check to discriminate.
    "q_c11b_bpe_learned" -> ((s, dir) => {
      val d = docsPar(s, dir)
      val codec = graft.functions.Bpe.learnFromCorpus(
        docs(s, dir), "doc_id", "text", numMerges = 100, sampleDocs = 500)
      d.groupBy("source")
        .agg(
          sum(graft.functions.Bpe.tokenCount(col("text"), codec).cast(LongType))
            .as("bpe_learned_tokens"),
          sum(TF.bpeTokenCount(col("text")).cast(LongType)).as("pre_tokens"))
        .orderBy("source")
    }),

    // C87: tokenizer fertility audit — the standard multilingual
    // tokenizer-fairness eval (a tokenizer trained on one language mix
    // fragments under-represented languages into more tokens per word
    // and fewer bytes per token, inflating their effective training
    // cost): per language, whitespace tokens and UTF-8 bytes (both
    // genuinely SQL-computed in the oracle) against the LEARNED BPE's
    // token count (the q_c11b codec; oracle side pinned from an
    // independent driver-path recomputation, the q_c11b device), with
    // integer-exact fertility (BPE per million ws tokens) and
    // bytes-per-token (milli) ratios. Map-only + one combining
    // aggregate — rides ingest for free at any scale.
    "q_c87_tokenizer_fertility" -> ((s, dir) => {
      val d = docsPar(s, dir)
      val codec = graft.functions.Bpe.learnFromCorpus(
        docs(s, dir), "doc_id", "text", numMerges = 100, sampleDocs = 500)
      d.groupBy("lang")
        .agg(
          count(lit(1)).as("docs"),
          sum(size(TF.tokens(col("text"))).cast(LongType)).as("ws_tokens"),
          sum(octet_length(col("text")).cast(LongType)).as("utf8_bytes"),
          sum(graft.functions.Bpe.tokenCount(col("text"), codec).cast(LongType))
            .as("bpe_tokens"))
        .withColumn("fertility_ppm", expr("bpe_tokens * 1000000 div ws_tokens"))
        .withColumn("bytes_per_tok_milli", expr("utf8_bytes * 1000 div bpe_tokens"))
        .orderBy("lang")
    }),

    // C11c: DISTRIBUTED-trained BPE — the merge table learned from the
    // whole corpus via one combining word-histogram aggregate (the
    // 100 TB trainer shape), not a 500-doc sample. The dynamic oracle
    // retrains through the independent driver-side Seq path (its own
    // histogram + the non-expression encode), so a divergence in
    // EITHER the Spark histogram aggregate OR the codegen encode
    // hash-fails. 120 merges ≠ q_c11b's 100 so the two codecs can't
    // mask each other.
    "q_c11c_bpe_distributed" -> ((s, dir) => {
      val d = docsPar(s, dir)
      val codec = graft.functions.Bpe.learnDistributed(
        docs(s, dir), "text", numMerges = 120)
      d.groupBy("source")
        .agg(
          sum(graft.functions.Bpe.tokenCount(col("text"), codec).cast(LongType))
            .as("bpe_corpus_tokens"),
          count(lit(1)).as("docs"))
        .orderBy("source")
    }),

    // C100: unigram-LM subword tokenizer (the SentencePiece family) —
    // the OTHER production tokenizer besides BPE: piece vocabulary +
    // Viterbi segmentation, trained corpus-wide by hard-EM over the
    // word-form histogram (one combining full-data aggregate, codegen
    // Viterbi E-steps, O(vocab) driver state). The oracle retrains
    // through the independent local path and replays encode driver-side
    // (the q_c11c device); pre_tokens stays genuinely SQL-computed.
    // vocab 1024 keeps segmentation non-trivial (unigram_tokens must
    // exceed pre_tokens for the check to discriminate).
    "q_c100_unigram_tokenizer" -> ((s, dir) => {
      val d = docsPar(s, dir)
      val model = graft.functions.UnigramLm.learnDistributed(
        docs(s, dir), "text", vocabSize = 1024, emRounds = 2,
        seedSize = 8192, maxPieceLen = 5)
      d.groupBy("source")
        .agg(
          sum(graft.functions.UnigramLm.tokenCount(col("text"), model)
            .cast(LongType)).as("unigram_tokens"),
          sum(TF.bpeTokenCount(col("text")).cast(LongType)).as("pre_tokens"))
        .withColumn("vocab_pieces", lit(model.pieces.length.toLong))
        .orderBy("source")
    }),

    // C104: multi-class language-ID classifier — mean-centered
    // nearest-class-centroid over hashed BINARY presence features (the
    // trained replacement for the C9 heuristic). The synthetic corpus
    // draws every language from ONE ~31-token vocabulary, so three
    // marker tokens are planted on the 4-in-5 slice (the drift-plant
    // device): the classifier must LEARN them — diagonal-exact on
    // marked docs — while the held-out 1-in-5 shows the genuinely
    // unlearnable baseline. The oracle replays the ENTIRE model in SQL
    // (presence pivot, centered integer centroids, argmax): no pinned
    // values anywhere.
    "q_c104_langid_centroid" -> ((s, dir) => {
      val planted = docsPar(s, dir).withColumn("text",
        when(col("doc_id") % 5 =!= 4,
          concat(col("text"), lit(" langmark_"), col("lang"),
            lit(" langmarkb_"), col("lang"), lit(" langmarkc_"), col("lang")))
          .otherwise(col("text")))
      graft.operators.Training.centroidClassifier(
        planted, "doc_id", "text", "lang", features = 256)
    }),

    // C107: UniMax language sampling — epoch-capped uniform
    // water-filling over the per-language token table (the mT5/PaLM-2
    // successor to C50's temperature mixture). Budget 45k at sf0.01
    // exercises BOTH branches (small langs cap-bound at 2 epochs, the
    // head budget-bound). Oracle: n_tokens genuinely SQL; alloc/epochs
    // pinned from an independent local recomputation (own token
    // counting + its own fill loop).
    "q_c107_unimax" -> ((s, dir) => {
      graft.operators.CorpusPipeline.unimaxMixture(
        docs(s, dir), budgetTokens = 45000L, maxEpochs = 2)
    }),

    // C105: k-center greedy coreset selection (Gonzalez farthest-point
    // traversal) — exact integer distances, so the oracle unrolls the
    // same greedy rounds as CTEs (the q_c66 device) and the whole
    // selection + coverage table hash-matches with NO pinned values.
    "q_c105_kcenter" -> ((s, dir) => {
      val e = embs(s, dir)
        .select(col("vec_id"), VF.quantize(col("embedding")).as("qv"))
      graft.operators.Clustering.kCenterGreedy(e, "vec_id", "qv", k = 8)
        .orderBy("sel_round")
    }),

    // C108: EXACT-threshold Jaccard join (PPJoin prefix filtering) —
    // the exact counterpart to C2/C4's approximate recall: planted
    // exact copies (J = 1) and 2-token-appended near copies (J ≥ 0.8
    // for most docs, below for short ones — the threshold
    // discriminates) must ALL surface; the oracle replays the whole
    // join (df order, prefixes, candidates, verification) in SQL.
    "q_c108_jaccard_join" -> ((s, dir) => {
      val d = docsPar(s, dir).select("doc_id", "text")
      val dup = d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val near = d.filter(col("doc_id") % 6 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"),
          concat(col("text"), lit(" zx qy")).as("text"))
      graft.operators.Dedup
        .jaccardJoinExact(d.union(dup).union(near), thresholdPpm = 800000L)
        .orderBy("ida", "idb")
    }),

    // C102: isotonic calibration over the C39/C63 hashed-linear scorer
    // — PAVA on the bounded bin table, exact rational comparisons.
    // n/positives/raw_ppm replay genuinely in SQL (the q_c63 CTEs at
    // bins=8); iso_ppm/pool_id pin from an INDEPENDENT Verify-time
    // recomputation (own md5 scorer, own binning, repeated-scan PAVA —
    // a different algorithm reaching the same unique fixpoint).
    "q_c102_isotonic" -> ((s, dir) => {
      val d = docsPar(s, dir)
      val scored = graft.operators.CorpusPipeline
        .scoreLinearHashed(d, "doc_id", "text")
        .join(d.select(col("doc_id"),
          coalesce((col("lang") === "en").cast(LongType), lit(0L)).as("y")), "doc_id")
      graft.operators.Evaluation
        .isotonicCalibration(scored, "lin_score", "y", bins = 8)
        .orderBy("bin")
    }),

    // C12: document fingerprints per source
    "q_c12_fingerprint" -> ((s, dir) => {
      docs(s, dir)
        .select(col("source"), TF.fingerprintMd5(col("text")).as("fp"))
        .groupBy("source")
        .agg(countDistinct(col("fp")).as("distinct_fps"), min("fp").as("min_fp"))
        .orderBy("source")
    })
  )

  /** DuckDB e-string regex for the GPT-2-family pre-tokenizer (shared by
   * the q_c11 oracle and the q_c11b dynamic oracle). Plain triple-quote:
   * backslashes are literal, exactly as DuckDB must receive them. */
  private val BpePreTokSqlRe =
    """e'\'(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s\']+|\\s'"""

  private[queries] val qvCte =
    """WITH qv AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      |  FROM embeddings)
      |""".stripMargin

  private val qvCte1k = qvCte.replace("FROM embeddings)", "FROM embeddings WHERE vec_id < 1000)")

  // Shared by q_c7b (seeded build-and-probe) and q_c7d (probe of the
  // PUBLISHED index): the index path must be output-identical to the
  // seeded path — same seeds, same cell routing, same rerank — so both
  // hash against one replay.
  private val ivfOracle = qvCte +
    """, cent AS (SELECT vec_id AS cell, v AS c FROM qv WHERE vec_id < 16),
      |aff AS (
      |  SELECT qv.vec_id, cent.cell,
      |    2*list_sum(list_transform(list_zip(qv.v, cent.c), p -> p[1]*p[2]))
      |      - list_sum(list_transform(cent.c, x -> x*x)) AS score
      |  FROM qv, cent),
      |ranked_cells AS (
      |  SELECT vec_id, cell,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS r
      |  FROM aff),
      |assign AS (SELECT vec_id, cell FROM ranked_cells WHERE r = 1),
      |hits AS (
      |  SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id
      |  FROM ranked_cells p JOIN assign a ON p.cell = a.cell
      |  WHERE p.vec_id < 5 AND p.r <= 2 AND p.vec_id <> a.vec_id),
      |scored AS (
      |  SELECT h.query_id, h.neighbor_id,
      |    CAST(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2])) AS DOUBLE)
      |      / sqrt(CAST(list_sum(list_transform(a.v, x -> x*x)) AS DOUBLE)
      |             * CAST(list_sum(list_transform(b.v, x -> x*x)) AS DOUBLE)) AS cos
      |  FROM hits h JOIN qv a ON a.vec_id = h.query_id JOIN qv b ON b.vec_id = h.neighbor_id)
      |SELECT query_id, neighbor_id, round(cos, 6) AS cosine, CAST(rnk AS INTEGER) AS rank FROM (
      |  SELECT query_id, neighbor_id, cos,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
      |  FROM scored)
      |WHERE rnk <= 5 ORDER BY query_id, rank""".stripMargin

  /** The q_c7c IVF-PQ chain as ONE definition shared by the seeded
   * (q_c7c) and published-index (q_c7e) rows — the warm-start path is
   * output-identical by construction, so oracle drift is impossible. */
  private val ivfPqOracle = qvCte +
    """, cent AS (SELECT vec_id AS cell, v AS c FROM qv WHERE vec_id < 16),
        |aff AS (
        |  SELECT qv.vec_id, cent.cell,
        |    2*list_sum(list_transform(list_zip(qv.v, cent.c), p -> p[1]*p[2]))
        |      - list_sum(list_transform(cent.c, x -> x*x)) AS score
        |  FROM qv, cent),
        |ranked_cells AS (
        |  SELECT vec_id, cell,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS r
        |  FROM aff),
        |assign AS (SELECT vec_id, cell FROM ranked_cells WHERE r = 1),
        |cb AS (
        |  SELECT j, vec_id AS cid, list_slice(v, j*8+1, j*8+8) AS cv
        |  FROM qv, generate_series(0, 7) t(j) WHERE vec_id < 16),
        |cdist AS (
        |  SELECT qv.vec_id, cb.j, cb.cid,
        |    list_sum(list_transform(
        |      list_zip(list_slice(qv.v, cb.j*8+1, cb.j*8+8), cb.cv),
        |      p -> (p[1]-p[2])*(p[1]-p[2]))) AS d
        |  FROM qv, cb),
        |codes AS (
        |  SELECT vec_id, j, cid FROM (
        |    SELECT vec_id, j, cid,
        |      row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cid) AS r
        |    FROM cdist) WHERE r = 1),
        |hits AS (
        |  SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id
        |  FROM ranked_cells p JOIN assign a ON p.cell = a.cell
        |  WHERE p.vec_id < 5 AND p.r <= 2 AND p.vec_id <> a.vec_id),
        |adist AS (
        |  SELECT h.query_id, h.neighbor_id, SUM(cd.d) AS ad
        |  FROM hits h
        |  JOIN codes co ON co.vec_id = h.neighbor_id
        |  JOIN cdist cd ON cd.vec_id = h.query_id AND cd.j = co.j AND cd.cid = co.cid
        |  GROUP BY 1, 2),
        |pruned AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY ad, neighbor_id) AS ar
        |    FROM adist) WHERE ar <= 24),
        |scored AS (
        |  SELECT h.query_id, h.neighbor_id,
        |    CAST(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2])) AS DOUBLE)
        |      / sqrt(CAST(list_sum(list_transform(a.v, x -> x*x)) AS DOUBLE)
        |             * CAST(list_sum(list_transform(b.v, x -> x*x)) AS DOUBLE)) AS cos
        |  FROM pruned h JOIN qv a ON a.vec_id = h.query_id JOIN qv b ON b.vec_id = h.neighbor_id)
        |SELECT query_id, neighbor_id, round(cos, 6) AS cosine, CAST(rnk AS INTEGER) AS rank FROM (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        |  FROM scored)
        |WHERE rnk <= 5 ORDER BY query_id, rank""".stripMargin

  // Shared by q_c67 (dominant direction) and q_c71 (ablation profile):
  // the full fixed-round power-iteration replay — per-dim floor(avg)
  // centering, v0 = 65536 everywhere, one D-sum aggregate per round,
  // HUGEINT renormalization with truncating `//` (matches the driver's
  // BigInt `/`), GREATEST(1, …) guarding the all-zero corner like the
  // Scala side. Ends with xc (centered vectors), s3 (final raw sums)
  // and v3 (final direction) open for the query's SELECT.
  private val topCompCtes = qvCte +
    """, c AS (SELECT pos, CAST(floor(avg(v[CAST(pos AS INT)])) AS BIGINT) AS m
      |  FROM qv CROSS JOIN generate_series(1, 64) gs(pos) GROUP BY pos),
      |xc AS (SELECT vec_id, list(v[CAST(pos AS INT)] - m ORDER BY pos) AS x
      |  FROM qv CROSS JOIN c GROUP BY vec_id),
      |s1 AS (SELECT gs.pos,
      |    CAST(SUM(CAST(65536 AS HUGEINT) * list_sum(x) * x[CAST(gs.pos AS INT)]) AS HUGEINT) AS s
      |  FROM xc CROSS JOIN generate_series(1, 64) gs(pos) GROUP BY gs.pos),
      |v1 AS (SELECT pos, CAST((s * 65536)
      |    // (SELECT GREATEST(CAST(1 AS HUGEINT), MAX(ABS(s))) FROM s1) AS BIGINT) AS v
      |  FROM s1),
      |d2 AS (SELECT xc.vec_id, CAST(SUM(xc.x[CAST(v1.pos AS INT)] * v1.v) AS BIGINT) AS dot
      |  FROM xc CROSS JOIN v1 GROUP BY xc.vec_id),
      |s2 AS (SELECT gs.pos, CAST(SUM(CAST(d.dot AS HUGEINT) * xc.x[CAST(gs.pos AS INT)]) AS HUGEINT) AS s
      |  FROM xc JOIN d2 d USING (vec_id) CROSS JOIN generate_series(1, 64) gs(pos) GROUP BY gs.pos),
      |v2 AS (SELECT pos, CAST((s * 65536)
      |    // (SELECT GREATEST(CAST(1 AS HUGEINT), MAX(ABS(s))) FROM s2) AS BIGINT) AS v
      |  FROM s2),
      |d3 AS (SELECT xc.vec_id, CAST(SUM(xc.x[CAST(v2.pos AS INT)] * v2.v) AS BIGINT) AS dot
      |  FROM xc CROSS JOIN v2 GROUP BY xc.vec_id),
      |s3 AS (SELECT gs.pos, CAST(SUM(CAST(d.dot AS HUGEINT) * xc.x[CAST(gs.pos AS INT)]) AS HUGEINT) AS s
      |  FROM xc JOIN d3 d USING (vec_id) CROSS JOIN generate_series(1, 64) gs(pos) GROUP BY gs.pos),
      |v3 AS (SELECT pos, CAST((s * 65536)
      |    // (SELECT GREATEST(CAST(1 AS HUGEINT), MAX(ABS(s))) FROM s3) AS BIGINT) AS v
      |  FROM s3)
      |""".stripMargin

  // Shared by q_c47 (k-means summary) and q_c49 (cluster labeling):
  // the full fixed-round Lloyd replay — seeded integer centroids,
  // argmax(2·dot − ‖c‖²) ties to the lower cell, per-dim floor(avg)
  // updates, empty cells carried by the LEFT JOIN coalesce. a3 is the
  // final assignment, c2 the final centroids.
  private val kmeansCtes = qvCte +
    """, c0 AS (SELECT vec_id AS cell, v AS c FROM qv WHERE vec_id < 8),
      |a1 AS (SELECT vec_id, cell FROM (
      |  SELECT q.vec_id, c.cell, row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |    2*list_sum(list_transform(list_zip(q.v, c.c), p -> p[1]*p[2]))
      |      - list_sum(list_transform(c.c, x -> x*x)) DESC, c.cell) AS r
      |  FROM qv q, c0 c) WHERE r = 1),
      |s1 AS (SELECT a.cell, gs.pos, CAST(floor(avg(qv.v[CAST(gs.pos AS INT)])) AS BIGINT) AS m
      |  FROM a1 a JOIN qv USING (vec_id) CROSS JOIN generate_series(1, 64) gs(pos)
      |  GROUP BY a.cell, gs.pos),
      |c1 AS (SELECT c0.cell, coalesce(n.c, c0.c) AS c FROM c0 LEFT JOIN
      |  (SELECT cell, list(m ORDER BY pos) AS c FROM s1 GROUP BY cell) n USING (cell)),
      |a2 AS (SELECT vec_id, cell FROM (
      |  SELECT q.vec_id, c.cell, row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |    2*list_sum(list_transform(list_zip(q.v, c.c), p -> p[1]*p[2]))
      |      - list_sum(list_transform(c.c, x -> x*x)) DESC, c.cell) AS r
      |  FROM qv q, c1 c) WHERE r = 1),
      |s2 AS (SELECT a.cell, gs.pos, CAST(floor(avg(qv.v[CAST(gs.pos AS INT)])) AS BIGINT) AS m
      |  FROM a2 a JOIN qv USING (vec_id) CROSS JOIN generate_series(1, 64) gs(pos)
      |  GROUP BY a.cell, gs.pos),
      |c2 AS (SELECT c1.cell, coalesce(n.c, c1.c) AS c FROM c1 LEFT JOIN
      |  (SELECT cell, list(m ORDER BY pos) AS c FROM s2 GROUP BY cell) n USING (cell)),
      |a3 AS (SELECT vec_id, cell FROM (
      |  SELECT q.vec_id, c.cell, row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |    2*list_sum(list_transform(list_zip(q.v, c.c), p -> p[1]*p[2]))
      |      - list_sum(list_transform(c.c, x -> x*x)) DESC, c.cell) AS r
      |  FROM qv q, c2 c) WHERE r = 1)
      |""".stripMargin

  // shared by q_c26_components, q_c26b_components_star, and
  // q_c54_keep_best: both engines' clustering must agree with DuckDB's
  // recursive-CTE reachability
  private val componentsCtes =
    """WITH RECURSIVE pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM (SELECT doc_id, lang,
      |          list_distinct(string_split_regex(trim(text), '\s+')) AS w
      |        FROM documents WHERE doc_id < 60) a
      |  JOIN (SELECT doc_id, lang,
      |          list_distinct(string_split_regex(trim(text), '\s+')) AS w
      |        FROM documents WHERE doc_id < 60) b
      |  ON a.lang = b.lang AND a.doc_id < b.doc_id
      |  WHERE round(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
      |        / len(list_distinct(a.w || b.w)), 3) >= 0.5),
      |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |      UNION SELECT id_b, id_a FROM pairs),
      |nodes AS (SELECT DISTINCT src AS node FROM e),
      |reach(node, lab) AS (
      |  SELECT node, node FROM nodes
      |  UNION
      |  SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node),
      |comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node)
      |""".stripMargin

  private val componentsOracleSql = componentsCtes +
    """SELECT component, count(*) AS size FROM comp
      |GROUP BY component ORDER BY component""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_c1_dedup_exact" ->
      """SELECT count(*) AS survivors, CAST(sum(mid) AS BIGINT) AS sum_ids FROM (
        |  SELECT min(doc_id) AS mid FROM (
        |    SELECT doc_id, text FROM documents
        |    UNION ALL
        |    SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0)
        |  GROUP BY text)""".stripMargin,
    "q_c2_minhash_lsh" ->
      """SELECT count(*) AS planted, count(*) AS recovered
        |FROM documents WHERE doc_id % 10 = 0""".stripMargin,
    "q_c3_simhash" ->
      """SELECT count(*) AS planted, count(*) AS recovered
        |FROM documents WHERE doc_id % 10 = 0""".stripMargin,
    // C91 oracle: identical planted excerpts, distinct 5-gram shingle
    // sets (≥ 5-token docs only), df-capped posting join, integer
    // containment ppms with exact (uncapped) size denominators.
    "q_c91_containment" ->
      """WITH exc AS (SELECT doc_id + 700000 AS doc_id,
        |    array_to_string(string_split_regex(trim(text), '\s+')[1:12], ' ') AS text
        |  FROM documents WHERE doc_id % 13 = 0),
        |d AS (SELECT doc_id, text FROM documents UNION ALL SELECT * FROM exc),
        |tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM d),
        |sh AS (SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest([array_to_string(t[i:i+4], ' ')
        |        for i in generate_series(1, len(t) - 4)]) AS g
        |    FROM tok WHERE len(t) >= 5)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |dfq AS (SELECT g FROM sh GROUP BY g HAVING count(*) <= 50),
        |kept AS (SELECT sh.doc_id, sh.g FROM sh JOIN dfq USING (g)),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(count(*) AS BIGINT) AS inter
        |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT p.id_a, p.id_b, p.inter,
        |  CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b,
        |  CAST(p.inter * 1000000 // sa.sz AS BIGINT) AS contain_a_ppm,
        |  CAST(p.inter * 1000000 // sb.sz AS BIGINT) AS contain_b_ppm
        |FROM pairs p
        |JOIN sizes sa ON sa.doc_id = p.id_a
        |JOIN sizes sb ON sb.doc_id = p.id_b
        |WHERE greatest(p.inter * 1000000 // sa.sz,
        |               p.inter * 1000000 // sb.sz) >= 500000
        |ORDER BY id_a, id_b""".stripMargin,
    "q_c4_ngram_jaccard" ->
      """SELECT id_a, id_b, jac FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    round(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
        |          / len(list_distinct(a.w || b.w)), 3) AS jac
        |  FROM (SELECT doc_id, lang, list_distinct(string_split_regex(trim(text), '\s+')) AS w
        |        FROM documents WHERE doc_id < 60) a
        |  JOIN (SELECT doc_id, lang, list_distinct(string_split_regex(trim(text), '\s+')) AS w
        |        FROM documents WHERE doc_id < 60) b
        |  ON a.lang = b.lang AND a.doc_id < b.doc_id)
        |WHERE jac >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    "q_c26_components" -> componentsOracleSql,
    "q_c26b_components_star" -> componentsOracleSql,
    "q_c54_keep_best" -> (componentsCtes.stripTrailing() + ",\n" +
      """j AS (SELECT c.node, c.component, d.n_chars
        |  FROM comp c JOIN documents d ON d.doc_id = c.node),
        |r AS (SELECT component, node, n_chars,
        |    row_number() OVER (PARTITION BY component
        |      ORDER BY n_chars DESC, node) AS rk,
        |    COUNT(*) OVER (PARTITION BY component) AS fs
        |  FROM j)
        |SELECT component, CAST(fs AS BIGINT) AS family_size, node AS kept,
        |  CAST(n_chars AS BIGINT) AS kept_quality
        |FROM r WHERE rk = 1 ORDER BY component""".stripMargin),
    "q_c55_int8_quant" -> (qvCte +
      """, m AS (SELECT vec_id, v,
        |    greatest(list_max(list_transform(v, x -> abs(x))), 1) AS maxabs
        |  FROM qv WHERE vec_id < 200),
        |c AS (SELECT vec_id, v, maxabs,
        |    list_transform(v, x -> CASE WHEN x < 0
        |      THEN -((abs(x)*127) // maxabs)
        |      ELSE (abs(x)*127) // maxabs END) AS code
        |  FROM m)
        |SELECT vec_id, CAST(maxabs AS BIGINT) AS maxabs,
        |  CAST(list_sum(list_transform(code, x -> abs(x))) AS BIGINT) AS code_l1,
        |  CAST(list_sum(list_transform(list_zip(v, code),
        |    p -> (p[1]*127 - p[2]*maxabs)*(p[1]*127 - p[2]*maxabs))) AS BIGINT) AS err_sq
        |FROM c ORDER BY vec_id""".stripMargin),
    "q_c5_embed_neardup" -> (qvCte1k +
      """, uni AS (SELECT vec_id, v FROM qv
        |          UNION ALL SELECT vec_id + 10000, v FROM qv WHERE vec_id % 10 = 0)
        |SELECT id_a, id_b, round(cos, 6) AS cosine FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    CAST(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2])) AS DOUBLE)
        |      / sqrt(CAST(list_sum(list_transform(a.v, x -> x*x)) AS DOUBLE)
        |             * CAST(list_sum(list_transform(b.v, x -> x*x)) AS DOUBLE)) AS cos
        |  FROM uni a, uni b WHERE a.vec_id < b.vec_id)
        |WHERE cos >= 0.95 ORDER BY id_a, id_b""".stripMargin),
    "q_c6_ann_brute" -> (qvCte +
      """SELECT query_id, neighbor_id, round(cos, 6) AS cosine, CAST(rnk AS INTEGER) AS rank FROM (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        |  FROM (
        |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |      CAST(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2])) AS DOUBLE)
        |        / sqrt(CAST(list_sum(list_transform(a.v, x -> x*x)) AS DOUBLE)
        |               * CAST(list_sum(list_transform(b.v, x -> x*x)) AS DOUBLE)) AS cos
        |    FROM qv a, qv b WHERE a.vec_id < 5 AND a.vec_id <> b.vec_id))
        |WHERE rnk <= 5 ORDER BY query_id, rank""".stripMargin),
    // C104: the WHOLE centered-centroid model replayed genuinely in
    // SQL — presence pivot, per-class/global integer centroid means,
    // argmax with (score DESC, class ASC) ties; zero pinned values.
    "q_c104_langid_centroid" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 5 <> 4 THEN text || ' langmark_' || lang ||
        |      ' langmarkb_' || lang || ' langmarkc_' || lang
        |    ELSE text END AS t
        |  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
        |tok AS (SELECT DISTINCT doc_id, lang,
        |    CAST(('0x' || substr(md5(tk), 1, 13)) AS BIGINT) % 256 AS b
        |  FROM (SELECT doc_id, lang,
        |          unnest(string_split_regex(trim(t), '\s+')) AS tk FROM d)),
        |cls AS (SELECT lang AS c, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM d),
        |ab AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS s FROM tok GROUP BY 1),
        |cb AS (SELECT lang AS c, b, CAST(COUNT(*) AS BIGINT) AS s
        |       FROM tok GROUP BY 1, 2),
        |w AS (SELECT cls.c, ab.b,
        |    COALESCE(cb.s, 0) * 1000 // cls.n - ab.s * 1000 // tot.nn AS wt
        |  FROM cls CROSS JOIN ab
        |  LEFT JOIN cb ON cb.c = cls.c AND cb.b = ab.b
        |  CROSS JOIN tot),
        |sc AS (SELECT t.doc_id, any_value(t.lang) AS label, w.c,
        |    CAST(SUM(w.wt) AS BIGINT) AS s
        |  FROM tok t JOIN w ON w.b = t.b GROUP BY t.doc_id, w.c),
        |pr AS (SELECT doc_id, label, c AS pred, s,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, c ASC) AS rn
        |  FROM sc)
        |SELECT p.label, p.pred, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(p.s) AS BIGINT) AS pred_score_sum,
        |  any_value(cls.n) AS label_docs
        |FROM pr p JOIN cls ON cls.c = p.label
        |WHERE p.rn = 1 GROUP BY 1, 2 ORDER BY p.label, p.pred""".stripMargin,

    // C108: the whole PPJoin replayed — shingle md5 sets, df-ascending
    // prefixes, length-filtered candidate join, exact verification.
    "q_c108_jaccard_join" ->
      """WITH base AS (
        |  SELECT doc_id AS id, text AS txt FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, text || ' zx qy'
        |  FROM documents WHERE doc_id % 6 = 0),
        |tk AS (SELECT id, string_split_regex(trim(txt), '\s+') AS l FROM base),
        |g3 AS (SELECT id, array_to_string(l[i:i+2], ' ') AS g
        |       FROM tk, unnest(generate_series(1, len(l) - 2)) AS u(i)
        |       WHERE len(l) >= 3
        |       UNION ALL
        |       SELECT id, array_to_string(l, ' ') AS g FROM tk WHERE len(l) < 3),
        |tok AS (SELECT DISTINCT id,
        |    CAST(('0x' || substr(md5(g), 1, 13)) AS BIGINT) AS h FROM g3),
        |dft AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY 1),
        |sz AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY 1),
        |pre AS (SELECT id, n, h FROM (
        |    SELECT t.id, s.n, t.h,
        |      row_number() OVER (PARTITION BY t.id ORDER BY f.df, t.h) AS r
        |    FROM tok t JOIN dft f USING (h) JOIN sz s USING (id))
        |  WHERE r <= n - ((800000 * n + 999999) // 1000000) + 1),
        |cand AS (SELECT DISTINCT a.id AS ida, b.id AS idb,
        |    a.n AS na, b.n AS nb
        |  FROM pre a JOIN pre b ON a.h = b.h AND a.id < b.id
        |    AND b.n * 1000000 >= a.n * 800000
        |    AND a.n * 1000000 >= b.n * 800000),
        |ix AS (SELECT c.ida, c.idb, c.na, c.nb, CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM cand c
        |  JOIN tok ta ON ta.id = c.ida
        |  JOIN tok tb ON tb.id = c.idb AND tb.h = ta.h
        |  GROUP BY 1, 2, 3, 4)
        |SELECT ida, idb, na, nb, inter, na + nb - inter AS uni,
        |  inter * 1000000 // (na + nb - inter) AS jac_ppm
        |FROM ix WHERE inter * 1000000 >= 800000 * (na + nb - inter)
        |ORDER BY ida, idb""".stripMargin,

    // C105: the greedy rounds unrolled as CTEs — seed = min id, each
    // round takes the max-min-dist² point (ties → min id), assignment
    // ties → earliest selection round (the NearestCells rule).
    "q_c105_kcenter" -> {
      val k = 8
      def d2(a: String, b: String) =
        s"CAST(list_sum(list_transform(list_zip($a, $b), p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"
      def centerVec(r: Int) =
        s"(SELECT q.v FROM qv q, c$r WHERE q.vec_id = c$r.cid)"
      val sb = new StringBuilder(qvCte)
      sb ++= ", c1 AS (SELECT min(vec_id) AS cid, CAST(0 AS BIGINT) AS radius FROM qv)"
      sb ++= s",\nd1 AS (SELECT vec_id, v, ${d2("v", centerVec(1))} AS md FROM qv)"
      for (r <- 2 to k) {
        sb ++= s",\nc$r AS (SELECT vec_id AS cid, md AS radius FROM d${r - 1}" +
          " ORDER BY md DESC, vec_id LIMIT 1)"
        if (r < k)
          sb ++= s",\nd$r AS (SELECT vec_id, v, least(md, " +
            s"${d2("v", centerVec(r))}) AS md FROM d${r - 1})"
      }
      val centersUnion = (1 to k)
        .map(r => s"SELECT $r AS rnd, cid, radius FROM c$r").mkString(" UNION ALL ")
      sb ++= s",\ncenters AS ($centersUnion)"
      sb ++= ",\ncv AS (SELECT c.rnd, c.cid, c.radius, q.v AS cvv" +
        " FROM centers c JOIN qv q ON q.vec_id = c.cid)"
      sb ++= s",\nasn AS (SELECT p.vec_id, c.rnd, row_number() OVER" +
        s" (PARTITION BY p.vec_id ORDER BY ${d2("p.v", "c.cvv")} ASC, c.rnd ASC)" +
        " AS rn FROM qv p, cv c)"
      sb ++= ",\npop AS (SELECT rnd, CAST(COUNT(*) AS BIGINT) AS n" +
        " FROM asn WHERE rn = 1 GROUP BY rnd)"
      sb ++= "\nSELECT CAST(c.rnd AS BIGINT) AS sel_round, c.cid AS center_id," +
        " CAST(c.radius AS BIGINT) AS radius_sq," +
        " COALESCE(p.n, CAST(0 AS BIGINT)) AS covered_n" +
        " FROM cv c LEFT JOIN pop p ON p.rnd = c.rnd ORDER BY sel_round"
      sb.toString
    },

    "q_c7_ann_lsh" -> {
      // bucket bit p = sign of Σ_d w(p,d)·v[d], w = LCG parity over
      // (plane, 1-based dim) — mirrors VectorFunctions.arithPlaneWeights
      def planeSum(p: Int): String =
        s"list_sum([CASE WHEN ((1103515245*($p*1000003+i)+12345)%2147483647)%2=0" +
          " THEN v[i] ELSE -v[i] END for i in generate_series(1,len(v))])"
      val bucket = (0 until 4)
        .map(p => s"${1 << p}*(CASE WHEN ${planeSum(p)} >= 0 THEN 1 ELSE 0 END)")
        .mkString(" + ")
      qvCte +
        s""", b AS (SELECT vec_id, v, $bucket AS bucket FROM qv)
           |SELECT query_id, neighbor_id, round(cos, 6) AS cosine, CAST(rnk AS INTEGER) AS rank FROM (
           |  SELECT query_id, neighbor_id, cos,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
           |  FROM (
           |    SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
           |      CAST(list_sum(list_transform(list_zip(a.v, c.v), p -> p[1]*p[2])) AS DOUBLE)
           |        / sqrt(CAST(list_sum(list_transform(a.v, x -> x*x)) AS DOUBLE)
           |               * CAST(list_sum(list_transform(c.v, x -> x*x)) AS DOUBLE)) AS cos
           |    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
           |    WHERE a.vec_id < 5))
           |WHERE rnk <= 5 ORDER BY query_id, rank""".stripMargin
    },
    "q_c7b_ann_ivf" -> ivfOracle,
    "q_c7d_ann_published" -> ivfOracle,
    // IVF-audit oracle: q_c7b's cell routing over the planted corpus,
    // per-cell counts/min-anchor, exact Σ(v−a)² argmax with the same
    // (d² desc, id asc) tie-break, uniform-mean imbalance in integer
    // ppm, split seeds only on hot cells.
    "q_c81_ivf_audit" -> (qvCte +
      """, planted AS (SELECT e.vec_id + 500000 AS vec_id, z.v
        |  FROM qv e, (SELECT v FROM qv WHERE vec_id = 0) z
        |  WHERE e.vec_id % 3 = 0),
        |corpus AS (SELECT vec_id, v FROM qv
        |  UNION ALL SELECT vec_id, v FROM planted),
        |cent AS (SELECT vec_id AS cell, v AS c FROM qv WHERE vec_id < 16),
        |aff AS (
        |  SELECT corpus.vec_id, cent.cell,
        |    2*list_sum(list_transform(list_zip(corpus.v, cent.c), p -> p[1]*p[2]))
        |      - list_sum(list_transform(cent.c, x -> x*x)) AS score
        |  FROM corpus, cent),
        |assign AS (SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS r
        |    FROM aff) WHERE r = 1),
        |cnt AS (SELECT cell, count(*) AS members, min(vec_id) AS anchor_id
        |        FROM assign GROUP BY cell),
        |tot AS (SELECT CAST(sum(members) AS BIGINT) AS t FROM cnt),
        |av AS (SELECT cnt.cell, c2.v AS avec
        |       FROM cnt JOIN corpus c2 ON c2.vec_id = cnt.anchor_id),
        |far AS (SELECT cell, vec_id AS far_id FROM (
        |    SELECT a.cell, a.vec_id,
        |      row_number() OVER (PARTITION BY a.cell ORDER BY
        |        list_sum(list_transform(list_zip(c3.v, av.avec),
        |          p -> (p[1]-p[2])*(p[1]-p[2]))) DESC, a.vec_id) AS rn
        |    FROM assign a JOIN corpus c3 ON c3.vec_id = a.vec_id
        |    JOIN av ON av.cell = a.cell) WHERE rn = 1)
        |SELECT CAST(cnt.cell AS INTEGER) AS cell, cnt.members AS members,
        |  CAST(cnt.members AS BIGINT) * 16 * 1000000 // tot.t AS imbalance_ppm,
        |  CAST(CASE WHEN cnt.members * 16 > 2 * tot.t THEN 1 ELSE 0 END AS INTEGER) AS hot,
        |  CASE WHEN cnt.members * 16 > 2 * tot.t THEN cnt.anchor_id END AS split_seed_a,
        |  CASE WHEN cnt.members * 16 > 2 * tot.t THEN far.far_id END AS split_seed_b
        |FROM cnt JOIN far USING (cell), tot
        |ORDER BY cell""".stripMargin),
    // Lloyd k-means oracle: replays the fixed-round loop exactly —
    // seeded integer centroids, argmax (2·dot − ‖c‖²) with ties to the
    // lower cell, per-dim floor(avg) updates (floor in DOUBLE, the one
    // cross-engine-safe int conversion), empty cells keep their
    // centroid via the LEFT JOIN coalesce. The CTE chain is shared
    // with q_c49 (cluster labeling) via [[kmeansCtes]].
    "q_c47_kmeans" -> (kmeansCtes +
      """SELECT CAST(a3.cell AS INTEGER) AS cell, count(*) AS n_members,
        |  min(a3.vec_id) AS min_id,
        |  CAST(sum(list_sum(list_transform(list_zip(qv.v, c2.c), p -> p[1]*p[2]))) AS BIGINT) AS dot_sum
        |FROM a3 JOIN qv USING (vec_id) JOIN c2 ON c2.cell = a3.cell
        |GROUP BY a3.cell ORDER BY cell""".stripMargin),
    // Power-iteration oracle: replays the fixed-round loop exactly —
    // per-dim floor(avg) centering, v0 = 65536 everywhere, per-round
    // D-sum aggregate, HUGEINT renormalization with truncating `//`
    // (matches the driver's BigInt `/`), GREATEST(1, …) guarding the
    // all-zero corner like the Scala side.
    "q_c67_top_component" -> (topCompCtes +
      """SELECT v3.pos AS pos, v3.v AS comp, CAST(s3.s AS BIGINT) AS s
        |FROM v3 JOIN s3 USING (pos) ORDER BY pos""".stripMargin),
    // JL-recall oracle: the same LCG-parity plane sums (q_c7 formula)
    // unrolled per output dim, projected-space ranks on integer dots,
    // left-joined against the full-space top-5 for the hit flag.
    // C99 oracle: the q_c7b cell-routing device (2·dot − |c|² argmax,
    // cell-asc ties), per-cell (md5, id)-ordered prefix sums, bounded
    // pack explode via generate_series, exact occupancy arithmetic.
    "q_c99_semantic_pack" -> (qvCte +
      """, cent AS (SELECT vec_id AS cell, v AS c FROM qv WHERE vec_id < 16),
        |d AS (SELECT dd.doc_id AS id, dd.lang AS meta,
        |    CAST(len(string_split_regex(trim(dd.text), '\s+')) + 1 AS BIGINT) AS t,
        |    md5(dd.text) AS hk, qv.v
        |  FROM documents dd JOIN qv ON qv.vec_id = dd.doc_id),
        |aff AS (SELECT d.id, cent.cell,
        |    2*list_sum(list_transform(list_zip(d.v, cent.c), p -> p[1]*p[2]))
        |      - list_sum(list_transform(cent.c, x -> x*x)) AS score
        |  FROM d, cent),
        |assign AS (SELECT id, CAST(cell AS BIGINT) AS cell FROM (
        |    SELECT id, cell,
        |      row_number() OVER (PARTITION BY id ORDER BY score DESC, cell) AS r
        |    FROM aff) WHERE r = 1),
        |st AS (SELECT a.cell, d.meta, d.t,
        |    CAST(SUM(d.t) OVER (PARTITION BY a.cell ORDER BY d.hk, d.id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM d JOIN assign a ON a.id = d.id),
        |ex AS (SELECT cell, meta, t, cum, cum - t AS strt,
        |    unnest(generate_series((cum - t) // 256, (cum - 1) // 256)) AS pack
        |  FROM st)
        |SELECT cell, CAST(pack AS BIGINT) AS pack,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT meta) AS BIGINT) AS n_meta,
        |  CAST(SUM(least((pack + 1) * 256, cum) - greatest(pack * 256, strt))
        |    AS BIGINT) AS tokens
        |FROM ex GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // C99b: the q_c99 CTEs + the sub-split ladder (per-cell count →
    // s = ceil(n/200) → md5-residue subcell → per-(cell, subcell)
    // prefix sums); residue parity is the C14 hash_split device.
    "q_c99b_semantic_pack_split" -> (qvCte +
      """, cent AS (SELECT vec_id AS cell, v AS c FROM qv WHERE vec_id < 16),
        |d AS (SELECT dd.doc_id AS id, dd.lang AS meta,
        |    CAST(len(string_split_regex(trim(dd.text), '\s+')) + 1 AS BIGINT) AS t,
        |    md5(dd.text) AS hk, qv.v
        |  FROM documents dd JOIN qv ON qv.vec_id = dd.doc_id),
        |aff AS (SELECT d.id, cent.cell,
        |    2*list_sum(list_transform(list_zip(d.v, cent.c), p -> p[1]*p[2]))
        |      - list_sum(list_transform(cent.c, x -> x*x)) AS score
        |  FROM d, cent),
        |assign AS (SELECT id, CAST(cell AS BIGINT) AS cell FROM (
        |    SELECT id, cell,
        |      row_number() OVER (PARTITION BY id ORDER BY score DESC, cell) AS r
        |    FROM aff) WHERE r = 1),
        |cc AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM assign GROUP BY 1),
        |r AS (SELECT a.cell,
        |    CAST(CAST(('0x' || substr(d.hk, 1, 13)) AS BIGINT)
        |      % ((cc.n + 199) // 200) AS BIGINT) AS subcell,
        |    d.meta, d.t, d.hk, d.id
        |  FROM d JOIN assign a ON a.id = d.id JOIN cc ON cc.cell = a.cell),
        |st AS (SELECT cell, subcell, meta, t,
        |    CAST(SUM(t) OVER (PARTITION BY cell, subcell ORDER BY hk, id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM r),
        |ex AS (SELECT cell, subcell, meta, t, cum, cum - t AS strt,
        |    unnest(generate_series((cum - t) // 256, (cum - 1) // 256)) AS pack
        |  FROM st)
        |SELECT cell, subcell, CAST(pack AS BIGINT) AS pack,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT meta) AS BIGINT) AS n_meta,
        |  CAST(SUM(least((pack + 1) * 256, cum) - greatest(pack * 256, strt))
        |    AS BIGINT) AS tokens
        |FROM ex GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // C96 oracle: the q_c75 exact-rank device at four prefix lengths —
    // v[1:m] prefix dots are exact int64 sums, ranks tie-break on
    // neighbor id, the m=64 row is the built-in recall ≡ 1e6 sanity.
    "q_c96_matryoshka_recall" -> {
      def tt(m: Int): String =
        s"""t$m AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
           |        CAST(list_sum(list_transform(list_zip(a.v[1:$m], b.v[1:$m]),
           |          p -> p[1]*p[2])) AS DOUBLE)
           |          / sqrt(CAST(list_sum(list_transform(a.v[1:$m], x -> x*x)) AS DOUBLE)
           |                 * CAST(list_sum(list_transform(b.v[1:$m], x -> x*x)) AS DOUBLE))
           |          DESC, b.vec_id) AS r
           |    FROM qv a, qv b WHERE a.vec_id < 5 AND a.vec_id <> b.vec_id)
           |  WHERE r <= 5)"""
      def row(m: Int): String =
        s"""SELECT CAST($m AS BIGINT) AS trunc_dim, CAST(5 AS BIGINT) AS probes,
           |  CAST(COUNT(*) AS BIGINT) AS pairs, CAST(SUM(hit) AS BIGINT) AS hits,
           |  CAST(SUM(hit) AS BIGINT) * 1000000 // COUNT(*) AS recall_ppm
           |FROM (SELECT CASE WHEN ft.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
           |  FROM t$m LEFT JOIN ft
           |  ON t$m.query_id = ft.query_id AND t$m.neighbor_id = ft.neighbor_id)"""
      qvCte +
        s""", ft AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
           |        CAST(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2])) AS DOUBLE)
           |          / sqrt(CAST(list_sum(list_transform(a.v, x -> x*x)) AS DOUBLE)
           |                 * CAST(list_sum(list_transform(b.v, x -> x*x)) AS DOUBLE))
           |          DESC, b.vec_id) AS r
           |    FROM qv a, qv b WHERE a.vec_id < 5 AND a.vec_id <> b.vec_id)
           |  WHERE r <= 5),
           |${Seq(8, 16, 32, 64).map(tt).mkString(",\n|")}
           |${Seq(8, 16, 32, 64).map(row).mkString("\n|UNION ALL\n|")}
           |ORDER BY trunc_dim""".stripMargin
    },

    "q_c75_jl_recall" -> {
      def planeSum(p: Int): String =
        s"list_sum([CASE WHEN ((1103515245*($p*1000003+i)+12345)%2147483647)%2=0" +
          " THEN v[i] ELSE -v[i] END for i in generate_series(1,len(v))])"
      val pvList = (0 until 16).map(planeSum).mkString("[", ", ", "]")
      qvCte +
        s""", pv AS (SELECT vec_id, $pvList AS v FROM qv),
           |pt AS (
           |  SELECT query_id, neighbor_id, cos,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
           |  FROM (
           |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |      CAST(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2])) AS DOUBLE)
           |        / sqrt(CAST(list_sum(list_transform(a.v, x -> x*x)) AS DOUBLE)
           |               * CAST(list_sum(list_transform(b.v, x -> x*x)) AS DOUBLE)) AS cos
           |    FROM pv a, pv b WHERE a.vec_id < 5 AND a.vec_id <> b.vec_id)),
           |ft AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
           |        CAST(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2])) AS DOUBLE)
           |          / sqrt(CAST(list_sum(list_transform(a.v, x -> x*x)) AS DOUBLE)
           |                 * CAST(list_sum(list_transform(b.v, x -> x*x)) AS DOUBLE)) DESC,
           |        b.vec_id) AS r
           |    FROM qv a, qv b WHERE a.vec_id < 5 AND a.vec_id <> b.vec_id)
           |  WHERE r <= 5)
           |SELECT pt.query_id, CAST(pt.rnk AS INTEGER) AS rank, pt.neighbor_id,
           |  round(pt.cos, 6) AS proj_cosine,
           |  CAST(CASE WHEN ft.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS hit
           |FROM pt LEFT JOIN ft
           |  ON pt.query_id = ft.query_id AND pt.neighbor_id = ft.neighbor_id
           |WHERE pt.rnk <= 5
           |ORDER BY pt.query_id, rank""".stripMargin
    },
    // Semantic-decontamination oracle: per corpus row the MAX cosine
    // over the 40 benchmark vectors (order-independent double max,
    // same arithmetic both engines), survivors grouped by label.
    "q_c76_semantic_decontam" -> (qvCte +
      """, ql AS (SELECT qv.vec_id, e.label, qv.v
        |  FROM qv JOIN embeddings e ON e.vec_id = qv.vec_id),
        |bench AS (SELECT v FROM qv WHERE vec_id < 40
        |  AND list_sum(list_transform(v, x -> x*x)) > 0),
        |planted AS (SELECT vec_id + 300000 AS vec_id, label,
        |    [v[i] + CASE WHEN i % 5 = 0 THEN 2 ELSE 0 END
        |     for i in generate_series(1, len(v))] AS v
        |  FROM ql WHERE vec_id < 40),
        |corpus AS (SELECT vec_id, label, v FROM ql
        |  UNION ALL SELECT vec_id, label, v FROM planted),
        |mx AS (
        |  SELECT c.vec_id, c.label,
        |    MAX(CASE WHEN list_sum(list_transform(c.v, x -> x*x)) > 0
        |      THEN CAST(list_sum(list_transform(list_zip(c.v, b.v), p -> p[1]*p[2])) AS DOUBLE)
        |        / sqrt(CAST(list_sum(list_transform(c.v, x -> x*x)) AS DOUBLE)
        |               * CAST(list_sum(list_transform(b.v, x -> x*x)) AS DOUBLE))
        |      ELSE -1.0 END) AS m
        |  FROM corpus c, bench b GROUP BY 1, 2)
        |SELECT label, COUNT(*) AS survivors, CAST(SUM(vec_id) AS BIGINT) AS sum_ids
        |FROM mx WHERE m < 0.98 GROUP BY label ORDER BY label""".stripMargin),
    // Hard-negative oracle: the q_c6 brute shape with the label
    // inequality — exact integer dots underneath, ranks identical.
    // Zero-norm sides mirror the Spark nanvl guard (score −2, ranks
    // last) instead of NaN-sorts-first divergence.
    "q_c72_hard_negatives" -> (qvCte +
      """SELECT query_id, neighbor_id, round(cos, 6) AS cosine, CAST(rnk AS INTEGER) AS rank FROM (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        |  FROM (
        |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |      CASE WHEN list_sum(list_transform(a.v, x -> x*x)) > 0
        |        AND list_sum(list_transform(b.v, x -> x*x)) > 0
        |      THEN CAST(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2])) AS DOUBLE)
        |        / sqrt(CAST(list_sum(list_transform(a.v, x -> x*x)) AS DOUBLE)
        |               * CAST(list_sum(list_transform(b.v, x -> x*x)) AS DOUBLE))
        |      ELSE -2.0 END AS cos
        |    FROM qv a JOIN embeddings ea ON ea.vec_id = a.vec_id,
        |         qv b JOIN embeddings eb ON eb.vec_id = b.vec_id
        |    WHERE a.vec_id < 5 AND ea.label <> eb.label))
        |WHERE rnk <= 5 ORDER BY query_id, rank""".stripMargin),
    // IVF-fronted hard-negative oracle: the q_c7b cell-routing CTEs
    // (seeded centroids, integer affinity, top-1 assign / top-2 probe)
    // with the label inequality applied to cell-mates — replays the
    // approximate candidate front exactly, not the brute ranks.
    "q_c72b_hard_negatives_ivf" -> (qvCte +
      """, cent AS (SELECT vec_id AS cell, v AS c FROM qv WHERE vec_id < 16),
        |aff AS (
        |  SELECT qv.vec_id, cent.cell,
        |    2*list_sum(list_transform(list_zip(qv.v, cent.c), p -> p[1]*p[2]))
        |      - list_sum(list_transform(cent.c, x -> x*x)) AS score
        |  FROM qv, cent),
        |ranked_cells AS (
        |  SELECT vec_id, cell,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS r
        |  FROM aff),
        |assign AS (SELECT vec_id, cell FROM ranked_cells WHERE r = 1),
        |hits AS (
        |  SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id
        |  FROM ranked_cells p JOIN assign a ON p.cell = a.cell
        |  JOIN embeddings ep ON ep.vec_id = p.vec_id
        |  JOIN embeddings ea ON ea.vec_id = a.vec_id
        |  WHERE p.vec_id < 5 AND p.r <= 2 AND p.vec_id <> a.vec_id
        |    AND ep.label <> ea.label),
        |scored AS (
        |  SELECT h.query_id, h.neighbor_id,
        |    CASE WHEN list_sum(list_transform(a.v, x -> x*x)) > 0
        |      AND list_sum(list_transform(b.v, x -> x*x)) > 0
        |    THEN CAST(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2])) AS DOUBLE)
        |      / sqrt(CAST(list_sum(list_transform(a.v, x -> x*x)) AS DOUBLE)
        |             * CAST(list_sum(list_transform(b.v, x -> x*x)) AS DOUBLE))
        |    ELSE -2.0 END AS cos
        |  FROM hits h JOIN qv a ON a.vec_id = h.query_id JOIN qv b ON b.vec_id = h.neighbor_id)
        |SELECT query_id, neighbor_id, round(cos, 6) AS cosine, CAST(rnk AS INTEGER) AS rank FROM (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        |  FROM scored)
        |WHERE rnk <= 5 ORDER BY query_id, rank""".stripMargin),
    // Margin-mining oracle: same 6-dp-rounded cosine ranks, the same
    // explicitly parenthesized two-term means — one IEEE evaluation
    // order in both engines, so margins match to the last bit.
    "q_c73_margin_pairs" -> (qvCte +
      """, A AS (SELECT vec_id AS x_id, v FROM qv WHERE vec_id < 300),
        |B AS (SELECT vec_id + 100000 AS y_id,
        |    [v[i] + CASE WHEN (vec_id + i) % 7 = 0 THEN 3 ELSE 0 END
        |     for i in generate_series(1, len(v))] AS v
        |  FROM qv WHERE vec_id < 300),
        |pairs AS (
        |  SELECT x_id, y_id,
        |    round(CAST(list_sum(list_transform(list_zip(A.v, B.v), p -> p[1]*p[2])) AS DOUBLE)
        |      / sqrt(CAST(list_sum(list_transform(A.v, x -> x*x)) AS DOUBLE)
        |             * CAST(list_sum(list_transform(B.v, x -> x*x)) AS DOUBLE)), 6) AS cos6
        |  FROM A, B),
        |r AS (SELECT x_id, y_id, cos6,
        |    row_number() OVER (PARTITION BY x_id ORDER BY cos6 DESC, y_id) AS rx,
        |    row_number() OVER (PARTITION BY y_id ORDER BY cos6 DESC, x_id) AS ry
        |  FROM pairs),
        |nnx AS (SELECT x_id, MAX(CASE WHEN rx = 1 THEN cos6 END) AS n1,
        |    MAX(CASE WHEN rx = 2 THEN cos6 END) AS n2 FROM r GROUP BY 1),
        |nny AS (SELECT y_id, MAX(CASE WHEN ry = 1 THEN cos6 END) AS m1,
        |    MAX(CASE WHEN ry = 2 THEN cos6 END) AS m2 FROM r GROUP BY 1),
        |m AS (
        |  SELECT r.x_id, r.y_id, r.cos6,
        |    round(r.cos6 - (n1 + n2) / 4 - (m1 + m2) / 4, 6) AS margin
        |  FROM r JOIN nnx USING (x_id) JOIN nny USING (y_id)),
        |best AS (SELECT x_id, y_id, cos6, margin,
        |    row_number() OVER (PARTITION BY x_id ORDER BY margin DESC, y_id) AS rb
        |  FROM m)
        |SELECT x_id, y_id, cos6 AS cosine, margin FROM best WHERE rb = 1
        |ORDER BY margin DESC, x_id LIMIT 50""".stripMargin),
    // Ablation-profile oracle: the SAME replayed power iteration
    // ([[topCompCtes]]) followed by one per-vector projection pass —
    // p = dot // 65536 (both engines truncate toward zero, probed this
    // round on negatives), q = p² // 1000, x2 = x·x — grouped by the
    // embedding label.
    "q_c71_ablation" -> (topCompCtes +
      """, pr AS (SELECT xc.vec_id,
        |    CAST(SUM(xc.x[CAST(v3.pos AS INT)] * v3.v) AS BIGINT) AS dotv,
        |    CAST(SUM(xc.x[CAST(v3.pos AS INT)] * xc.x[CAST(v3.pos AS INT)]) AS BIGINT) AS x2
        |  FROM xc CROSS JOIN v3 GROUP BY xc.vec_id),
        |pp AS (SELECT vec_id, dotv // 65536 AS p, x2 FROM pr)
        |SELECT e.label AS label, COUNT(*) AS n,
        |  CAST(SUM(ABS(p)) AS BIGINT) AS sum_abs_p,
        |  CAST(MAX(ABS(p)) AS BIGINT) AS max_abs_p,
        |  CAST(SUM((p * p) // 1000) AS BIGINT) AS sum_q,
        |  CAST(SUM(x2) AS BIGINT) AS sum_x2
        |FROM pp JOIN embeddings e USING (vec_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // Cluster labeling: the SAME replayed k-means assignment (a3)
    // joined 1:1 to documents (vec_id = doc_id in the synthetic
    // corpus), top-5 ≥4-char lowercase tokens per cell by
    // (count DESC, term) — the standard "what is this cluster about"
    // step after topic bucketing.
    "q_c49_cluster_labels" -> (kmeansCtes +
      """SELECT CAST(cell AS INTEGER) AS cell, CAST(r AS INTEGER) AS rank, term, cnt FROM (
        |  SELECT cell, term, cnt,
        |    row_number() OVER (PARTITION BY cell ORDER BY cnt DESC, term) AS r
        |  FROM (
        |    SELECT a3.cell, t.term, count(*) AS cnt
        |    FROM a3 JOIN documents d ON d.doc_id = a3.vec_id,
        |      unnest(string_split_regex(trim(lower(d.text)), '\s+')) AS t(term)
        |    WHERE len(t.term) >= 4
        |    GROUP BY 1, 2) g)
        |WHERE r <= 5 ORDER BY cell, rank""".stripMargin),
    // IVF-PQ oracle: identical cells/probes to q_c7b, then PQ codes =
    // arg-min subspace L2^2 against the first-16-rows codebook (ties ->
    // lowest centroid id), ADC = sum of the QUERY's subspace distances
    // at the CANDIDATE's codes, rerank depth 24 by (adist, neighbor),
    // exact cosine top-5. All integer-exact on the quantized vectors.
    // q_c7e probes the PUBLISHED index with the same codebooks/cells
    // (the C7d sharing rationale) -> same oracle.
    "q_c7e_ann_pq_published" -> ivfPqOracle,
    "q_c7c_ann_ivfpq" -> ivfPqOracle,
    "q_c8_multimodal" ->
      """SELECT source, count(*) AS docs,
        |  CAST(sum(octet_length(encode(substr(text, 1, 64)))) AS BIGINT) AS total_bytes,
        |  CAST(sum(ascii(substr(text, 1, 1))) AS BIGINT) AS head_sum,
        |  CAST(sum(list_sum([ascii(substr(text, CAST(i AS INT), 1))
        |                     for i in generate_series(1, least(length(text), 64))])) AS BIGINT) AS payload_sum,
        |  CAST(sum(100 + doc_id % 80) AS BIGINT) AS total_ms,
        |  CAST(sum(100 + (doc_id % 50) * 10) AS BIGINT) AS total_rms,
        |  CAST(min(8000) AS INTEGER) AS rate_min,
        |  CAST(max(1) AS INTEGER) AS ch_max,
        |  CAST(sum(44 + 16 * (100 + doc_id % 80)) AS BIGINT) AS wav_bytes
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // q_c8c closed forms: resized dims are always 2×2; solid colour
    // survives the exact box filter, so luma = floor((299·(id%251) +
    // 587·(id·7%251) + 114·(id·13%251))/1000) — the same per-pixel
    // floor the Spark decoder applies; head byte of a PNG is 0x89=137
    "q_c8c_resize" ->
      """SELECT source, count(*) AS docs,
        |  CAST(sum(2) AS BIGINT) AS w_sum,
        |  CAST(sum(2) AS BIGINT) AS h_sum,
        |  CAST(sum((299 * (doc_id % 251) + 587 * ((doc_id * 7) % 251)
        |            + 114 * ((doc_id * 13) % 251)) // 1000) AS BIGINT) AS luma_sum,
        |  CAST(sum(137) AS BIGINT) AS head_sum
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // q_c8b closed forms: take = least(4, cnt) with cnt = 3 + id%5;
    // sampled source frame for output f is (f*cnt)//take; each frame is
    // 16 bytes of (id*31 + srcIdx) % 251; idx_sum = 0+..+(take-1)
    "q_c8b_video_demux" ->
      """SELECT source,
        |  CAST(sum(least(4, 3 + doc_id % 5)) AS BIGINT) AS frames_sampled,
        |  CAST(sum(list_sum([16 * ((doc_id * 31 + (f * (3 + doc_id % 5)) // least(4, 3 + doc_id % 5)) % 251)
        |    for f in generate_series(0, least(4, 3 + doc_id % 5) - 1)])) AS BIGINT) AS frame_bytes,
        |  CAST(sum((least(4, 3 + doc_id % 5) * (least(4, 3 + doc_id % 5) - 1)) // 2) AS BIGINT) AS idx_sum
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // q_c8d: identical algebra to q_c8b — the synthetic MP4 carries the
    // same frames, only the container (and the demuxer under test) differs
    "q_c8d_mp4_demux" ->
      """SELECT source,
        |  CAST(sum(least(4, 3 + doc_id % 5)) AS BIGINT) AS frames_sampled,
        |  CAST(sum(list_sum([16 * ((doc_id * 31 + (f * (3 + doc_id % 5)) // least(4, 3 + doc_id % 5)) % 251)
        |    for f in generate_series(0, least(4, 3 + doc_id % 5) - 1)])) AS BIGINT) AS frame_bytes,
        |  CAST(sum((least(4, 3 + doc_id % 5) * (least(4, 3 + doc_id % 5) - 1)) // 2) AS BIGINT) AS idx_sum
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // q_c86 closed forms: dhash = Σ_y 2^(8y + p_y) with edge p = id%7,
    // moved to (p+3)%7 in rows 6-7 for variants (id%16 >= 14);
    // 1103823438081 = bits 8y (y=0..5), 72339069014638592 = 2^48+2^56,
    // 72340172838076673 = bits 8y (y=0..7). p ≤ 6 keeps bit 62 the
    // highest, so BIGINT semantics agree across engines. Ownership is
    // the operator's greedy contract: min representative id within
    // hamming 6 (the unbanded replay is exhaustive; the operator's
    // banding is too, because all variant flips live in one band).
    "q_c86_image_neardup" ->
      """WITH sig AS (
        |  SELECT doc_id,
        |    CASE WHEN (doc_id % 16) >= 14 THEN
        |      (1103823438081 << CAST(doc_id % 7 AS INTEGER))
        |        + (72339069014638592 << CAST((doc_id % 7 + 3) % 7 AS INTEGER))
        |    ELSE (72340172838076673 << CAST(doc_id % 7 AS INTEGER)) END AS dhash
        |  FROM documents),
        |rep AS (SELECT dhash, MIN(doc_id) AS rep_id FROM sig GROUP BY 1),
        |own AS (
        |  SELECT a.dhash, MIN(b.rep_id) AS owner
        |  FROM rep a JOIN rep b ON bit_count(xor(a.dhash, b.dhash)) <= 6
        |  GROUP BY a.dhash)
        |SELECT s.doc_id, s.dhash, o.owner
        |FROM sig s JOIN own o USING (dhash) ORDER BY s.doc_id""".stripMargin,
    "q_c9_lang_id" ->
      """SELECT lang, predicted, count(*) AS cnt FROM (
        |  SELECT lang, CASE
        |    WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
        |    WHEN regexp_matches(' ' || lower(text) || ' ', ' (der|und|die|nicht|das|ist) ') THEN 'de'
        |    WHEN regexp_matches(' ' || lower(text) || ' ', ' (le|la|les|est|dans|une) ') THEN 'fr'
        |    WHEN regexp_matches(' ' || lower(text) || ' ', ' (el|los|las|es|una|por) ') THEN 'es'
        |    WHEN regexp_matches(' ' || lower(text) || ' ', ' (the|and|is|of|to|in) ') THEN 'en'
        |    ELSE 'unknown' END AS predicted
        |  FROM documents)
        |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin,
    "q_c10_quality" ->
      """SELECT source, docs, chars, puncts, stops,
        |  CAST(chars AS DOUBLE) / docs AS avg_len FROM (
        |  SELECT source, count(*) AS docs,
        |    CAST(sum(length(text)) AS BIGINT) AS chars,
        |    CAST(sum(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
        |      AS BIGINT) AS puncts,
        |    CAST(sum(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      t -> t IN ('the','a','and','is','of','to','in')))) AS BIGINT) AS stops
        |  FROM documents GROUP BY source)
        |ORDER BY source""".stripMargin,
    "q_c11_tokens" ->
      s"""SELECT source,
        |  CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS tokens,
        |  CAST(sum(len(regexp_extract_all(text,
        |    $BpePreTokSqlRe))) AS BIGINT)
        |    AS bpe_tokens
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_c12_fingerprint" ->
      """SELECT source,
        |  count(DISTINCT md5(lower(regexp_replace(text, '\s+', ' ', 'g')))) AS distinct_fps,
        |  min(md5(lower(regexp_replace(text, '\s+', ' ', 'g')))) AS min_fp
        |FROM documents GROUP BY source ORDER BY source""".stripMargin
  )

  /**
   * Data-dependent oracle for q_c11b: the learned-merge loop is not
   * SQL-expressible, so Verify pins the learned column as literal VALUES
   * computed here by an INDEPENDENT recomputation — [[graft.functions.BpeCodec.encode]],
   * the reference segmentation path, NOT the codegen'd `countTokens` the
   * query executes — while `pre_tokens` stays genuinely SQL-computed in
   * DuckDB. Driver-side collect is bounded: the documents table at
   * verify scale (sf0.01, 500 rows).
   */
  def dynamicOracleSql(s: SparkSession, dir: String): Map[String, String] = {
    val codec = graft.functions.Bpe.learnFromCorpus(
      docs(s, dir), "doc_id", "text", numMerges = 100, sampleDocs = 500)
    val perSource = docs(s, dir).select("source", "text").collect()
      .groupBy(_.getString(0))
      .map { case (src, rows) =>
        (src, rows.map(r => codec.encode(r.getString(1)).length.toLong).sum)
      }
      .toSeq.sortBy(_._1)
    val values = perSource
      .map { case (src, n) => s"('${src.replace("'", "''")}', $n)" }
      .mkString(",\n        ")
    // q_c87: the same codec's per-LANGUAGE token sums, recomputed
    // through the independent driver encode path (not the codegen
    // expression); ws tokens / bytes stay genuinely SQL-computed.
    val perLang = docs(s, dir).select("lang", "text").collect()
      .groupBy(_.getString(0))
      .map { case (lang, rows) =>
        (lang, rows.map(r => codec.encode(r.getString(1)).length.toLong).sum)
      }
      .toSeq.sortBy(_._1)
    val langValues = perLang
      .map { case (lang, n) => s"('${lang.replace("'", "''")}', $n)" }
      .mkString(",\n        ")
    // q_c48: independent replay — encode every doc in doc_id order via
    // BpeCodec.encodeIds (the non-expression code path), concatenate,
    // cut into 128-id blocks, fingerprint "pos:id pos:id …" like the
    // in-plan PostingsMd5 digest.
    val packRows = docs(s, dir).select("doc_id", "text").orderBy("doc_id").collect()
    val allIds = packRows.iterator.flatMap { r =>
      if (r.isNullAt(1)) Iterator.empty
      else codec.encode(r.getString(1)).iterator.map(codec.symbolId)
    }.toArray
    val packVals = allIds.grouped(128).zipWithIndex.map { case (block, i) =>
      val digest = org.apache.commons.codec.digest.DigestUtils.md5Hex(
        block.zipWithIndex.map { case (id, pos) => s"$pos:$id" }.mkString(" "))
      s"(CAST($i AS BIGINT), CAST(${block.length} AS BIGINT), '$digest')"
    }.mkString(",\n        ")

    // q_c11c: retrain through the INDEPENDENT Seq path — driver-side
    // preTokens histogram (not the Spark aggregate) + BpeCodec.encode
    // (not the codegen expression); 120 merges to match the query.
    val codecDist = new graft.functions.BpeCodec(graft.functions.Bpe.learn(
      docs(s, dir).select("text").collect().map(_.getString(0)).toSeq, numMerges = 120))
    val perSourceDist = docs(s, dir).select("source", "text").collect()
      .groupBy(_.getString(0))
      .map { case (src, rows) =>
        (src, rows.map(r => codecDist.encode(r.getString(1)).length.toLong).sum)
      }
      .toSeq.sortBy(_._1)
    val valuesDist = perSourceDist
      .map { case (src, n) => s"('${src.replace("'", "''")}', $n)" }
      .mkString(",\n        ")

    // q_c100: retrain through the INDEPENDENT local path (own
    // histogram, own seed counting, own EM loops — shares only the
    // Viterbi core) and replay encode driver-side (not the codegen
    // expression); a divergence in any Spark trainer aggregate OR the
    // codegen count hash-fails.
    val uniModel = graft.functions.UnigramLm.learnLocal(
      docs(s, dir).select("text").collect()
        .map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq,
      vocabSize = 1024, emRounds = 2, seedSize = 8192, maxPieceLen = 5)
    val uniPerSource = docs(s, dir).select("source", "text").collect()
      .groupBy(_.getString(0))
      .map { case (src, rows) =>
        (src, rows.map(r =>
          if (r.isNullAt(1)) 0L
          else uniModel.encode(r.getString(1)).length.toLong).sum)
      }.toSeq.sortBy(_._1)
    val uniValues = uniPerSource
      .map { case (src, n) => s"('${src.replace("'", "''")}', $n)" }
      .mkString(",\n        ")

    // q_c102: independent local replay — own md5 token scorer, own
    // binning arithmetic, and repeated-scan PAVA (a different
    // algorithm from the operator's stack form; PAVA's fixpoint is
    // unique, so both must land on identical pools).
    val isoValues = {
      val rows = docs(s, dir).select("text", "lang").collect()
      val sy = rows.iterator.filter(!_.isNullAt(0)).map { r =>
        var sc = 0L
        r.getString(0).trim.split("\\s+").foreach { t =>
          sc += java.lang.Long.parseLong(
            org.apache.commons.codec.digest.DigestUtils.md5Hex(t)
              .substring(0, 4), 16) % 19 - 9
        }
        (sc, if (!r.isNullAt(1) && r.getString(1) == "en") 1L else 0L)
      }.toArray
      val binsN = 8
      val mn = sy.iterator.map(_._1).min
      val mx = sy.iterator.map(_._1).max
      val agg = scala.collection.mutable.SortedMap.empty[Long, (Long, Long)]
      sy.foreach { case (sc, y) =>
        val b = math.min(binsN - 1L, (sc - mn) * binsN / (mx - mn + 1))
        val (n0, p0) = agg.getOrElse(b, (0L, 0L))
        agg(b) = (n0 + 1L, p0 + y)
      }
      // repeated-scan PAVA over occupied bins in bin order
      val pools = scala.collection.mutable.ArrayBuffer(
        agg.toSeq.map { case (b, (n, p)) => (Seq(b), n, p) }: _*)
      var changed = true
      while (changed) {
        changed = false
        var i = 0
        while (i < pools.length - 1) {
          val (ba, na, pa) = pools(i)
          val (bb, nb, pb) = pools(i + 1)
          if (pa * nb > pb * na) {
            pools(i) = (ba ++ bb, na + nb, pa + pb)
            pools.remove(i + 1)
            changed = true
          } else i += 1
        }
      }
      pools.zipWithIndex.flatMap { case ((bs, n, p), pid) =>
        bs.map(b => s"($b, ${p * 1000000L / n}, $pid)")
      }.mkString(",\n        ")
    }

    // q_c107: independent local replay — own token counting (the
    // established trim/split equivalence), own ascending water-fill.
    val umValues = {
      val rows = docs(s, dir).select("lang", "text").collect()
        .filter(r => !r.isNullAt(0))
      val counts = rows.groupBy(_.getString(0)).map { case (lg, rs) =>
        (lg, rs.iterator.filter(!_.isNullAt(1))
          .map(_.getString(1).trim.split("\\s+").length.toLong).sum)
      }.toSeq
      val utf8 = (x: String) => org.apache.spark.unsafe.types.UTF8String.fromString(x)
      val asc = counts.sortWith { case ((la, na), (lb, nb)) =>
        na < nb || (na == nb && utf8(la).compareTo(utf8(lb)) < 0)
      }
      var remaining = 45000L
      var left = asc.length
      asc.map { case (lg, n) =>
        val alloc = math.min(n * 2L, if (left > 0) remaining / left else 0L)
        remaining -= alloc; left -= 1
        s"('${lg.replace("'", "''")}', $alloc, ${alloc * 1000L / math.max(n, 1L)})"
      }.mkString(",\n        ")
    }

    Map(
      "q_c107_unimax" ->
        s"""SELECT v.lang, g.n_tokens,
           |  CAST(v.a AS BIGINT) AS alloc_tokens,
           |  CAST(v.e AS BIGINT) AS epochs_milli
           |FROM (VALUES $umValues) v(lang, a, e)
           |JOIN (SELECT lang, CAST(COALESCE(SUM(
           |        len(string_split_regex(trim(text), '\\s+'))), 0) AS BIGINT)
           |        AS n_tokens
           |      FROM documents WHERE lang IS NOT NULL GROUP BY 1) g
           |  USING (lang)
           |ORDER BY lang""".stripMargin,

      "q_c102_isotonic" ->
        s"""WITH tok AS (
           |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tk
           |  FROM documents),
           |ds AS (
           |  SELECT doc_id,
           |    CAST(SUM(CAST(('0x' || substr(md5(tk), 1, 4)) AS BIGINT) % 19 - 9)
           |      AS BIGINT) AS s
           |  FROM tok GROUP BY doc_id),
           |lb AS (
           |  SELECT ds.s, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
           |  FROM ds JOIN documents d USING (doc_id)),
           |mm AS (SELECT MIN(s) AS mn, MAX(s) AS mx FROM lb),
           |b AS (
           |  SELECT least(7, (s - mn) * 8 // (mx - mn + 1)) AS bin, y
           |  FROM lb, mm),
           |g AS (
           |  SELECT bin, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS positives,
           |    CAST(SUM(y) AS BIGINT) * 1000000 // COUNT(*) AS raw_ppm
           |  FROM b GROUP BY 1)
           |SELECT g.bin, g.n, g.positives, g.raw_ppm,
           |  CAST(v.iso_ppm AS BIGINT) AS iso_ppm,
           |  CAST(v.pool_id AS BIGINT) AS pool_id
           |FROM g JOIN (VALUES $isoValues) v(bin, iso_ppm, pool_id)
           |  ON g.bin = v.bin
           |ORDER BY g.bin""".stripMargin,
      "q_c100_unigram_tokenizer" ->
        s"""SELECT v.source,
           |  CAST(v.unigram_tokens AS BIGINT) AS unigram_tokens,
           |  p.pre_tokens,
           |  CAST(${uniModel.pieces.length} AS BIGINT) AS vocab_pieces
           |FROM (VALUES $uniValues) v(source, unigram_tokens)
           |JOIN (SELECT source,
           |        CAST(sum(len(regexp_extract_all(text,
           |          $BpePreTokSqlRe))) AS BIGINT) AS pre_tokens
           |      FROM documents GROUP BY source) p USING (source)
           |ORDER BY source""".stripMargin,
      "q_c11c_bpe_distributed" ->
        s"""SELECT v.source,
           |  CAST(v.bpe_corpus_tokens AS BIGINT) AS bpe_corpus_tokens,
           |  p.docs
           |FROM (VALUES $valuesDist) v(source, bpe_corpus_tokens)
           |JOIN (SELECT source, count(*) AS docs
           |      FROM documents GROUP BY source) p USING (source)
           |ORDER BY source""".stripMargin,
      "q_c11b_bpe_learned" ->
        s"""SELECT v.source,
           |  CAST(v.bpe_learned_tokens AS BIGINT) AS bpe_learned_tokens,
           |  p.pre_tokens
           |FROM (VALUES $values) v(source, bpe_learned_tokens)
           |JOIN (SELECT source,
           |        CAST(sum(len(regexp_extract_all(text,
           |          $BpePreTokSqlRe))) AS BIGINT) AS pre_tokens
           |      FROM documents GROUP BY source) p USING (source)
           |ORDER BY source""".stripMargin,
      "q_c87_tokenizer_fertility" ->
        s"""WITH bpe(lang, bpe_tokens) AS (VALUES
           |        $langValues),
           |base AS (
           |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs,
           |    CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS ws_tokens,
           |    CAST(SUM(strlen(text)) AS BIGINT) AS utf8_bytes
           |  FROM documents GROUP BY lang)
           |SELECT b.lang, b.docs, b.ws_tokens, b.utf8_bytes,
           |  CAST(p.bpe_tokens AS BIGINT) AS bpe_tokens,
           |  (CAST(p.bpe_tokens AS BIGINT) * 1000000) // b.ws_tokens AS fertility_ppm,
           |  (b.utf8_bytes * 1000) // CAST(p.bpe_tokens AS BIGINT) AS bytes_per_tok_milli
           |FROM base b JOIN bpe p USING (lang) ORDER BY b.lang""".stripMargin,
      "q_c48_pack_ids" ->
        s"""SELECT * FROM (VALUES $packVals)
           |t(seq_no, n_ids, ids_md5) ORDER BY seq_no""".stripMargin)
  }
}
