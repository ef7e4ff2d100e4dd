package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Deduplication operators (SURVEY.md §2 C1-C4) designed for 100 TB:
 * every variant is one hash-partitioned shuffle keyed on a bounded
 * bucket (exact key / band hash / simhash band) — candidate pairs are
 * generated within buckets only, never via an all-pairs product, and
 * all per-row signatures are built-in codegen'd expressions.
 */
object Dedup {

  /**
   * C1: exact dedup — keep the row with the smallest `tieBreaker` per
   * duplicate group. Single map-side-combinable shuffle on the key; for
   * wide rows, pre-hash the key (`xxhash64`) so the shuffle carries 8
   * bytes instead of the document.
   */
  def exact(df: DataFrame, keyCol: String, tieBreaker: String): DataFrame = {
    val cols = df.columns
    df.groupBy(col(keyCol))
      .agg(min_by(struct(cols.map(col).toSeq: _*), col(tieBreaker)).as("__row"))
      .select(cols.map(c => col(s"__row.$c")).toSeq: _*)
  }

  /**
   * C70: blocked edit-distance fuzzy dedup — the record-linkage rung
   * between exact/normalized dedup (C1/C52: distance 0) and MinHash
   * (C2: set overlap, blind to character-level edits): find pairs whose
   * NORMALIZED text is within `maxDist` single-character edits.
   *
   * Tractability at scale comes from three standard bounds, each
   * documented as a recall trade rather than hidden:
   *  - prefix blocking: only pairs sharing the first `prefixLen`
   *    normalized chars are candidates (a pair whose edits all fall in
   *    the prefix is missed — the MinHash tier covers those);
   *  - per-block cap: blocks larger than `maxBucketSize` are boiler-
   *    plate families — their quadratic pair lists are cut to the
   *    block's min-id star (the [[minhashCandidates]] rule);
   *  - bounded compare form: distances are computed on the first
   *    `compareLen` normalized chars, and Spark's THREE-ARG
   *    `levenshtein(l, r, threshold)` abandons a pair the moment the
   *    banded DP proves dist > maxDist — O(compareLen·maxDist) per
   *    pair, not O(compareLen²).
   *
   * The only shuffle is the block-keyed join; a length pre-filter
   * (|len_a − len_b| ≤ maxDist, a lower bound on edit distance) culls
   * pairs before any DP runs. Returns (id_a, id_b, dist), id_a < id_b.
   */
  def editDistancePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 4,
      prefixLen: Int = 12,
      compareLen: Int = 400,
      maxBucketSize: Int = 64): DataFrame = {
    require(maxDist >= 0 && prefixLen > 0 && compareLen > prefixLen)
    val base = df.select(
      col(idCol).as("__id"),
      substring(TextFunctions.normalizeText(col(textCol)), 1, compareLen).as("__c"))
      .withColumn("__k", substring(col("__c"), 1, prefixLen))
      .withColumn("__len", length(col("__c")))
    val stats = base.groupBy("__k")
      .agg(count(lit(1)).as("__n"), min(col("__id")).as("__rep"))
    // persist + eager pin: three consumers (both sides of the pair
    // join and the star path) would otherwise each recompute the
    // base⋈aggregate(base) block build (the df⋈aggregate(df) rule) —
    // at 100 TB this compact (id, prefix-block, 400-char form) table
    // is what a pipeline writes to storage between stages
    val tagged = Scoped.persistTracked(base.join(stats, Seq("__k")))
    tagged.count()
    val small = tagged.filter(col("__n") <= maxBucketSize)
    // Pair generation (r19): the block self-join exchanged the
    // 400-char compare form on BOTH sides of the __k join. The block
    // membership is already capped (__n ≤ maxBucketSize), so collect
    // each block's (id, form, len) structs in ONE pass — the compare
    // form crosses the exchange once, bounded at maxBucketSize·
    // compareLen chars per group — and explode the i<j combinations
    // map-side (the containmentPairs device; sorted structs order by
    // the unique __id, so pair orientation is unchanged).
    val grpB = small
      .groupBy("__k").agg(sort_array(collect_list(
        struct(col("__id"), col("__c"), col("__len")))).as("__ms"))
    val allPairs = grpB
      .select(col("__ms"), posexplode(col("__ms")).as(Seq("__pa", "__a")))
      .select(col("__a"),
        explode(slice(col("__ms"), col("__pa") + lit(2), size(col("__ms"))))
          .as("__b"))
      .select(col("__a.__id").as("id_a"), col("__b.__id").as("id_b"),
        col("__a.__c").as("__ca"), col("__b.__c").as("__cb"),
        col("__a.__len").as("__la"), col("__b.__len").as("__lb"))
      .filter(abs(col("__la") - col("__lb")) <= maxDist)
      .withColumn("dist",
        levenshtein(col("__ca"), col("__cb"), maxDist).cast(LongType))
      .filter(col("dist") >= 0)
      .select("id_a", "id_b", "dist")
    // oversized blocks: star against the representative only (linear)
    val starred = tagged.filter(col("__n") > maxBucketSize)
      .filter(col("__id") =!= col("__rep"))
      .join(tagged.select(col("__id").as("__rep"), col("__c").as("__cr"),
        col("__len").as("__lr")), Seq("__rep"))
      .filter(abs(col("__len") - col("__lr")) <= maxDist)
      .withColumn("dist",
        levenshtein(col("__c"), col("__cr"), maxDist).cast(LongType))
      .filter(col("dist") >= 0)
      .select(col("__rep").as("id_a"), col("__id").as("id_b"), col("dist"))
    allPairs.union(starred)
  }

  /**
   * C2: MinHash+LSH near-dup candidates. Signature = `numHashes` min-hashes
   * over word `shingleSize`-shingles (xxhash64 with the hash index as
   * seed); signatures are cut into `bands`; rows land in (band, bandHash)
   * buckets; pairs are emitted within buckets and deduped. The shuffle key
   * is the band hash → bucket sizes bound memory; hot buckets can be
   * salted upstream. Returns distinct (id_a, id_b) with id_a < id_b.
   */
  def minhashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      bands: Int = 16,
      shingleSize: Int = 3,
      parallelism: Int = 0,
      maxBucketSize: Int = 0): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    // Signatures via the single-pass codegen'd MinHashSig expression —
    // map-only (no exchange, no per-shingle string materialization);
    // the only shuffle in the whole operator is the banded bucket join.
    // That is the 100 TB shape: one scan, one bounded-width shuffle.
    // parallelism > 0 spreads compute when the input has few splits
    // (single-row-group files locally); at cluster scale inputs are
    // already partitioned and 0 (no extra shuffle) is right
    val src = if (parallelism > 0) df.repartition(parallelism) else df
    val sigDf = src.select(
      col(idCol).as("__id"),
      graft.functions.MinHashSig(
        TextFunctions.tokens(col(textCol)), shingleSize, numHashes).as("__sig"))
    val banded = sigDf
      .select(
        col("__id"),
        posexplode(transform(
          sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("__sig"), b * rows + 1, lit(rows)), b))))
      .select(col("pos").as("band"), col("col").as("band_hash"), col("__id"))
    // skew guard: buckets larger than maxBucketSize are boilerplate
    // clusters whose quadratic pair lists dominate cost (a corpus where
    // every doc shares a big common block collapses ALL signatures into
    // one bucket — all-pairs would be |corpus|²). Oversized buckets
    // fall back to STAR pairs — every member against the bucket's
    // min-id representative — keeping the pair list linear while the
    // downstream Jaccard verify / connected components still links the
    // whole family through the representative.
    if (maxBucketSize <= 0) {
      val a = banded.select(col("band"), col("band_hash"), col("__id").as("id_a"))
      val b = banded.select(col("band"), col("band_hash"), col("__id").as("id_b"))
      a.join(b, Seq("band", "band_hash"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    } else {
      val stats = banded.groupBy("band", "band_hash")
        .agg(count(lit(1)).as("__n"), min(col("__id")).as("__rep"))
      val tagged = banded.join(stats, Seq("band", "band_hash"))
      val small = tagged.filter(col("__n") <= maxBucketSize)
        .select(col("band"), col("band_hash"), col("__id"))
      val a = small.select(col("band"), col("band_hash"), col("__id").as("id_a"))
      val b = small.select(col("band"), col("band_hash"), col("__id").as("id_b"))
      val allPairs = a.join(b, Seq("band", "band_hash"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
      // __rep is the bucket min, so (rep, id) is already (lo, hi)
      val starred = tagged.filter(col("__n") > maxBucketSize)
        .filter(col("__id") =!= col("__rep"))
        .select(col("__rep").as("id_a"), col("__id").as("id_b"))
      allPairs.union(starred).distinct()
    }
  }

  /**
   * C3: SimHash — 64-bit signature; bit j is the sign of the sum of
   * ±1 votes (bit j of each token hash). Near-dup candidates join on
   * equal 16-bit sub-bands (any r-of-4 band match ⊇ all pairs with
   * hamming ≤ 3), then verify with `bit_count(xor) <= maxHamming`.
   */
  def simhash(text: Column): Column = {
    val t = TextFunctions.tokens(text)
    aggregate(
      transform(sequence(lit(0), lit(63)), j =>
        when(
          aggregate(
            transform(t, tok => when(call_function("shiftright", xxhash64(tok), j).bitwiseAND(1) === 1, 1).otherwise(-1)),
            lit(0), _ + _) > 0,
          call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))),
      lit(0L), _ + _)
  }

  /** Map-only simhash per row via the single-pass codegen'd [[graft.functions.SimHash64]]
   * expression — same hash/vote scheme as [[simhash]], bit-identical
   * signatures, zero exchanges. */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String, parallelism: Int = 0): DataFrame = {
    val src = if (parallelism > 0) df.repartition(parallelism) else df
    src.select(
      col(idCol).as("__id"),
      graft.functions.SimHash64(TextFunctions.tokens(col(textCol))).as("__sig"))
  }

  def simhashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      parallelism: Int = 0): DataFrame =
    hammingCandidatesBySig(
      simhashSignatures(df, idCol, textCol, parallelism), "__id", "__sig", maxHamming)

  /**
   * Banded hamming candidate pairs over a PRECOMPUTED 64-bit signature
   * column — the [[simhashCandidates]] banding generalized to any
   * signature family (SimHash text sketches, dHash image signatures):
   * 4×16-bit bands → bucket equi-join → popcount verify → (id_a <
   * id_b) pairs. Pigeonhole guarantees full recall for maxHamming ≤ 3;
   * above that, a pair is found iff some band is untouched (the
   * standard LSH recall trade — callers needing exactness above 3 must
   * confine perturbations to one band, as the C86 synthetic layout
   * does, or verify candidates downstream).
   */
  def hammingCandidatesBySig(
      sigDf: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int = 3): DataFrame = {
    // rename FIRST in its own select: aliasing x.as("__sig") and
    // referencing col("__sig") inside posexplode in ONE select list
    // resolves as a LateralColumnAliasReference when the names collide
    // (e.g. the simhash path), which Generate rejects at analysis
    val renamed = sigDf.select(col(idCol).as("__id"), col(sigCol).as("__sig"))
    val banded = renamed.select(
      col("__id"), col("__sig"),
      posexplode(transform(
        sequence(lit(0), lit(3)),
        b => call_function("shiftright", col("__sig"), b * 16).bitwiseAND(0xffffL))))
      .select(col("pos").as("band"), col("col").as("band_val"), col("__id"), col("__sig"))
    val a = banded.select(col("band"), col("band_val"), col("__id").as("id_a"), col("__sig").as("sig_a"))
    val b = banded.select(col("band"), col("band_val"), col("__id").as("id_b"), col("__sig").as("sig_b"))
    a.join(b, Seq("band", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .filter(bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= maxHamming)
      .select("id_a", "id_b")
      .distinct()
  }

  /**
   * C86 grouping: exact-then-near signature ownership — the shape
   * every perceptual image-dedup pipeline uses at scale (exact hash
   * dedup first collapses identical images to one representative, THEN
   * the near search runs over DISTINCT signatures only, so the banded
   * join never sees the raw row count). Owner of a signature = the
   * smallest representative id within `maxHamming` bits (or itself) —
   * the greedy min-owner contract of [[dropNearDuplicates]], not a
   * transitive closure. Returns (sigCol, owner) for every distinct
   * signature; join back on sigCol for per-row owners.
   */
  def signatureOwners(
      sigDf: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int = 3): DataFrame = {
    val rep = sigDf.groupBy(col(sigCol))
      .agg(min(col(idCol)).as("__rep"))
    val cands = hammingCandidatesBySig(rep, "__rep", sigCol, maxHamming)
    val better = cands.groupBy(col("id_b").as("__rep")).agg(min(col("id_a")).as("__na"))
    rep.join(better, Seq("__rep"), "left")
      .select(col(sigCol),
        least(col("__rep"), coalesce(col("__na"), col("__rep"))).as("owner"))
  }

  /**
   * One-call near-dedup: MinHash-LSH candidates → exact Jaccard
   * verification → greedy drop of every doc that has a verified
   * near-duplicate with a smaller id (keep-first). Greedy-by-id is the
   * standard large-scale practice (a full transitive closure would need
   * iterative connected components; greedy removes at least every
   * pairwise-duplicate while never dropping both sides of a pair).
   */
  def dropNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 128,
      bands: Int = 16,
      shingleSize: Int = 3,
      parallelism: Int = 0,
      maxBucketSize: Int = 10000): DataFrame = {
    val cands = minhashCandidates(df, idCol, textCol, numHashes, bands, shingleSize,
      parallelism, maxBucketSize)
    val verified = verifyJaccard(cands, df, idCol, textCol, threshold)
    val losers = verified.select(col("id_b").as("__loser")).distinct()
    df.join(losers, df(idCol) === col("__loser"), "left_anti")
  }

  /**
   * One-call near-duplicate clustering (C2+C4+C26 composed): MinHash-LSH
   * candidates → Jaccard verification → connected components over the
   * verified pair graph. Returns (idCol, component, size) for every
   * member of a near-dup family, labeled with the family's canonical
   * (min) id; singleton documents don't appear (their family is
   * themselves). Scale shape is the sum of its parts: one banded bucket
   * shuffle, a bounded verify join, O(diameter) label rounds.
   */
  def clusterNearDuplicates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 128,
      bands: Int = 16,
      shingleSize: Int = 3,
      parallelism: Int = 0,
      loopPartitions: Int = 0,
      maxBucketSize: Int = 10000): DataFrame = {
    val cands = minhashCandidates(docs, idCol, textCol, numHashes, bands, shingleSize,
      parallelism, maxBucketSize)
    val verified = verifyJaccard(cands, docs, idCol, textCol, threshold)
    val comp = connectedComponents(verified, loopPartitions = loopPartitions)
    val sizes = comp.groupBy("component").agg(count(lit(1)).as("size"))
    comp.join(sizes, "component")
      .select(col("node").as(idCol), col("component"), col("size"))
  }

  /** C4: exact word-set Jaccard between two token-array columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast(DoubleType) / size(array_union(a, b)).cast(DoubleType)

  /** C4: verified near-dup pairs — candidates (from any generator) joined
   * back to texts, kept when word-set Jaccard ≥ threshold. */
  /**
   * Near-dup CLUSTERING: connected components over a verified pair
   * set, so a family of transitively-linked near-duplicates gets one
   * canonical id (the component's min node) instead of only pairwise
   * drop decisions. Iterative min-label propagation: each round is one
   * co-partitioned join + map-side-combining min aggregate, converging
   * in O(graph diameter) rounds — near-dup families are shallow (a
   * hub document links its variants), so a handful of rounds closes
   * real corpora. Labels and edges persist across rounds; previous
   * labels unpersist as soon as superseded. At extreme scale with
   * deep/skewed graphs, switch the round body to alternating
   * large-star/small-star (same join shape, provably fewer rounds).
   *
   * Returns (node, component) for every node that appears in an edge.
   */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String = "id_a",
      dstCol: String = "id_b",
      maxIter: Int = 25,
      loopPartitions: Int = 0): DataFrame = {
    // Every iteration shuffles the (node, component) table; when the
    // graph is far smaller than the session default (near-dup families
    // are), per-task fixed cost dominates — loopPartitions sizes the
    // loop's shuffles to the state, q_d2-style, and restores the conf
    // after (0 = leave the session setting alone).
    val spark = edges.sparkSession
    val prevConf =
      if (loopPartitions > 0) {
        val p = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", loopPartitions)
        Some(p)
      } else None
    try connectedComponentsLoop(edges, srcCol, dstCol, maxIter)
    finally prevConf.foreach(p => spark.conf.set("spark.sql.shuffle.partitions", p))
  }

  /**
   * C54: quality-aware dedup — when a near-dup family is found, keep
   * its BEST member, not its first: [[connectedComponents]] over the
   * verified pairs, then one co-partitioned join to the quality table
   * and one combining aggregate whose whole state is a (quality,
   * −node) max-struct — argmax by (quality DESC, id ASC), so ties are
   * deterministic on both engines. This is the keep rule production
   * crawls actually want (keep the longest/highest-scoring variant of
   * a boilerplate family, drop the truncated mirrors), vs C1/C26's
   * keep-min-id. Returns one row per family: component, family_size,
   * kept (the surviving id), kept_quality.
   */
  def keepBest(
      edges: DataFrame,
      quality: DataFrame,
      idCol: String,
      qualityCol: String,
      srcCol: String = "id_a",
      dstCol: String = "id_b",
      loopPartitions: Int = 0): DataFrame = {
    val comp = connectedComponents(edges, srcCol, dstCol, loopPartitions = loopPartitions)
    comp
      .join(
        quality.select(col(idCol).cast(LongType).as("node"),
          col(qualityCol).cast(LongType).as("__q")),
        "node")
      .groupBy("component")
      .agg(
        count(lit(1)).as("family_size"),
        max(struct(col("__q").as("q"), (-col("node")).as("negid"))).as("__best"))
      .select(
        col("component"),
        col("family_size"),
        (-col("__best.negid")).as("kept"),
        col("__best.q").as("kept_quality"))
  }

  private def connectedComponentsLoop(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sym = edges
      .select(col(srcCol).cast(LongType).as("src"), col(dstCol).cast(LongType).as("dst"))
      .union(edges.select(col(dstCol).cast(LongType).as("src"), col(srcCol).cast(LongType).as("dst")))
      .distinct()
      .persist(MEMORY_AND_DISK)
    // labels feed two plan branches per round (join + union): truncate
    // lineage each round (localCheckpoint) or the logical plan doubles
    // per iteration and deep graphs stall in the analyzer
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("component", col("node"))
      .localCheckpoint(true)
    // labels are monotonically non-increasing per node, so the global
    // sum strictly decreases exactly while propagation still changes
    // something — a narrow aggregate is the whole convergence check,
    // no join against the previous round needed
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("component").cast(DecimalType(38, 0)))).first().getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val prop = sym.join(labels, col("src") === col("node"))
        .select(col("dst").as("node"), col("component"))
      val next = labels.select("node", "component").union(prop)
        .groupBy("node").agg(min(col("component")).as("component"))
        .localCheckpoint(true)
      val s = labelSum(next)
      labels.unpersist(blocking = false)
      labels = next
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      i += 1
    }
    sym.unpersist(blocking = false)
    labels
  }

  /**
   * C26 scale path: connected components via alternating
   * large-star/small-star contraction (Kiveris et al. 2014,
   * "Connected Components in MapReduce and Beyond"). Min-label
   * propagation needs O(graph diameter) rounds — fine for shallow
   * near-dup families, quadratic-feeling on chain-shaped graphs
   * (crawl rings, mirror-of-a-mirror chains). The star operations
   * contract every component toward its minimum in O(log² n) rounds
   * regardless of diameter, and each round is the SAME join shape as
   * one propagation round (a map-side-combining min aggregate plus a
   * co-partitioned equi-join on the node key), so the win is purely
   * fewer shuffles.
   *
   * large-star: each node u attaches its strictly-larger neighbors to
   * min(N(u) ∪ {u}); small-star: each node of an (hi→lo)-oriented
   * edge set attaches its smaller neighbors and itself to its minimum
   * neighbor. Both preserve the component partition exactly; the
   * joint fixed point is a star per component centered at the
   * minimum, read off as (node, component) without any extra pass.
   * If `maxIter` rounds don't reach the fixed point (they do — 20
   * covers log² of anything addressable), the remaining edges (same
   * components, already heavily contracted) close under the
   * propagation loop, so the result is exact either way.
   *
   * Returns (node, component) for every node that appears in an edge,
   * including self-loop-only nodes (component = themselves).
   */
  def connectedComponentsStar(
      edges: DataFrame,
      srcCol: String = "id_a",
      dstCol: String = "id_b",
      maxIter: Int = 20,
      loopPartitions: Int = 0): DataFrame = {
    val spark = edges.sparkSession
    val prevConf =
      if (loopPartitions > 0) {
        val p = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", loopPartitions)
        Some(p)
      } else None
    try starLoop(edges, srcCol, dstCol, maxIter)._1
    finally prevConf.foreach(p => spark.conf.set("spark.sql.shuffle.partitions", p))
  }

  /** Test hook: star components plus the number of rounds taken. */
  private[operators] def starComponentsWithRounds(
      edges: DataFrame,
      srcCol: String = "id_a",
      dstCol: String = "id_b",
      maxIter: Int = 20): (DataFrame, Int) =
    starLoop(edges, srcCol, dstCol, maxIter)

  private def starLoop(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int): (DataFrame, Int) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val raw = edges
      .select(col(srcCol).cast(LongType).as("u"), col(dstCol).cast(LongType).as("v"))
    val nodes = raw.select(col("u").as("node"))
      .union(raw.select(col("v").as("node")))
      .distinct()
      .persist(MEMORY_AND_DISK)
    // canonical state: distinct edges oriented hi > lo (self-loops
    // carry no connectivity; `nodes` remembers their endpoints).
    // Each round's plan references `e` ~16× (sym twice, large four
    // ways, the small-star union twice more) — caching alone leaves
    // the LOGICAL plan growing 16^rounds and the driver spinning in
    // the analyzer, so the state must be lineage-truncated
    // (localCheckpoint → LogicalRDD), not merely persisted.
    var e = raw.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("hi"), least(col("u"), col("v")).as("lo"))
      .distinct()
      .localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // large-star over the symmetric view: for each node a with
      // neighborhood B, m = min(B ∪ {a}); larger neighbors b > a
      // re-attach to m. Output stays (hi=b) > (lo=m) oriented.
      val sym = e.select(col("hi").as("a"), col("lo").as("b"))
        .union(e.select(col("lo").as("a"), col("hi").as("b")))
      val lmin = sym.groupBy("a").agg(min(col("b")).as("mn"))
        .select(col("a"), least(col("a"), col("mn")).as("m"))
      val large = sym.join(lmin, "a")
        .filter(col("b") > col("a"))
        .select(col("b").as("hi"), col("m").as("lo"))
        .distinct()
      // small-star on the oriented output: every hi's smaller
      // neighbors (all of them — orientation guarantees lo < hi) and
      // hi itself attach to hi's minimum neighbor.
      val smin = large.groupBy("hi").agg(min(col("lo")).as("m"))
      val att = large.join(smin, "hi")
      val next = att.filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .union(att.select(col("hi"), col("m").as("lo")))
        .distinct()
        .localCheckpoint(true) // materialize + truncate lineage/plan
      // fixed point = identical edge set (both sides distinct, so
      // equal counts + empty difference is set equality)
      converged = next.count() == e.count() && next.except(e).isEmpty
      e.unpersist(blocking = false)
      e = next
      i += 1
    }
    val starLabels =
      if (converged)
        e.select(col("hi").as("node"), col("lo").as("component"))
          .union(e.select(col("lo").as("node"), col("lo").as("component")))
          .distinct()
      else connectedComponentsLoop(e, "hi", "lo", 25)
    val labels = nodes.join(starLabels, Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node")).as("component"))
    (labels, i)
  }

  /**
   * C29: SemDeDup-style semantic deduplication (Abbas et al. 2023,
   * "SemDeDup: Data-efficient learning at web-scale through semantic
   * deduplication"): cluster the embedding space, then inside each
   * cluster drop every document whose cosine similarity to a lower-id
   * document reaches `threshold`.
   *
   * Determinism contract (reproducible in any SQL engine): centroids
   * are the rows with id < `nSeeds` (dense 0-based ids assumed — the
   * same convention as [[Similarity.ivfTopKSeeded]]; re-key sparse ids
   * upstream) — no Lloyd pass; vectors are integer-quantized so cell
   * affinities (2·v·c − ‖c‖²) and dot products are exact; affinity
   * ties break toward the lowest cell id; the survivor of a duplicate
   * pair is always the lower id; zero-norm vectors are never considered
   * duplicates of anything (their cosine is undefined).
   *
   * Caching: the assignment subplan is persisted (it feeds three
   * differently-keyed shuffles); blocks live until the session evicts
   * them — callers looping over many corpora should wrap the call in
   * [[Scoped.withCached]] or `spark.catalog.clearCache()` between
   * calls.
   *
   * Scale shape: the centroid fetch is a bounded driver collect (KBs);
   * assignment is one codegen'd NearestCells map pass; the pair search
   * is an equi-join on the cell id — ONE shuffle of (cell, id, vec),
   * never an all-pairs product. Within-cell work is quadratic in
   * cluster size (the SemDeDup cost model itself), so `nSeeds` is the
   * knob trading per-cell cost against cross-cluster recall; a skewed
   * cell splits by raising it. `maxCellSize > 0` additionally hard-caps
   * any hot cell (exact-dup collapse + salted sub-cells — one-sided
   * recall loss only, see [[cappedDroppedIds]]); 0 = exact all-pairs,
   * the oracle-checked mode.
   *
   * @return (idCol, cell, keep) — keep=false rows are semantic dups
   */
  def semDedup(
      df: DataFrame,
      idCol: String,
      quantVecCol: String,
      nSeeds: Int,
      threshold: Double,
      maxCellSize: Int = 0): DataFrame = {
    import graft.functions.VectorDotLong
    val cmat: Array[Array[Double]] = df
      .filter(col(idCol) < nSeeds).orderBy(idCol)
      .select(col(quantVecCol).cast(ArrayType(DoubleType)))
      .collect().map(_.getSeq[Double](0).toArray)
    require(cmat.nonEmpty, s"no seed rows with $idCol < $nSeeds")
    // the NearestCells pass feeds three differently-keyed shuffles (both
    // pair-join sides + the keep join) — persist so it runs once; blocks
    // are dropped lazily once the returned plan's consumers finish
    val assigned = df
      .select(col(idCol), col(quantVecCol).as("__v"),
        VectorDotLong(col(quantVecCol), col(quantVecCol)).as("__n"))
      .withColumn("cell", element_at(
        graft.functions.NearestCells(col("__v").cast(ArrayType(DoubleType)), cmat, 1), 1))
      .transform(Scoped.persistTracked)
    dropHigherIdDuplicates(assigned, Seq("cell"), idCol, threshold, maxCellSize)
      .select(col(idCol), col("cell"), col("keep"))
  }

  /** Shared SemDeDup pair search: inside each cell (the `cellCols`
   * composite key) mark every row that has a lower-id row with cosine ≥
   * `threshold` as keep=false. The cosine is computed exactly as the
   * DuckDB oracle does (long dot → double ÷ sqrt: IEEE-exact on
   * exactly-representable ints ⇒ identical pair sets), and zero-norm
   * vectors never match (NaN ordering differs between engines — Spark
   * treats NaN >= t as false, DuckDB's total float order as true — so
   * both sides guard on positive norms explicitly).
   *
   * `maxCellSize > 0` bounds the quadratic: see [[cappedDroppedIds]]. */
  private def dropHigherIdDuplicates(
      assigned: DataFrame,
      cellCols: Seq[String],
      idCol: String,
      threshold: Double,
      maxCellSize: Int): DataFrame = {
    val dropped =
      if (maxCellSize <= 0) allPairsDroppedIds(assigned, cellCols, idCol, threshold)
      else cappedDroppedIds(assigned, cellCols, idCol, threshold, maxCellSize)
    assigned
      .join(dropped, col(idCol) === col("__did"), "left_outer")
      .withColumn("keep", col("__did").isNull)
  }

  /** Exact within-cell pair search: ids that have a lower-id row with
   * cosine ≥ threshold in the same cell. Quadratic in cell size — the
   * SemDeDup cost model — so callers must bound cell sizes (nSeeds) or
   * use [[cappedDroppedIds]]. Expects columns `__v` (quantized vector)
   * and `__n` (its self-dot) alongside `cellCols` and `idCol`. */
  private def allPairsDroppedIds(
      assigned: DataFrame,
      cellCols: Seq[String],
      idCol: String,
      threshold: Double): DataFrame = {
    import graft.functions.VectorDotLong
    val a = assigned.select(
      cellCols.map(col) ++
        Seq(col(idCol).as("__ida"), col("__v").as("__va"), col("__n").as("__na")): _*)
    val b = assigned.select(
      cellCols.map(c => col(c).as(s"__b_$c")) ++
        Seq(col(idCol).as("__idb"), col("__v").as("__vb"), col("__n").as("__nb")): _*)
    val sameCell = cellCols.map(c => col(c) === col(s"__b_$c")).reduce(_ && _)
    a.join(b,
        sameCell && col("__idb") < col("__ida") &&
          col("__na") > 0 && col("__nb") > 0 &&
          VectorDotLong(col("__va"), col("__vb")).cast(DoubleType) /
            sqrt(col("__na").cast(DoubleType) * col("__nb").cast(DoubleType)) >=
            lit(threshold),
        "left_semi")
      .select(col("__ida").as("__did"))
  }

  /** Skew-bounded within-cell pair search. Cells ≤ `maxCellSize` run the
   * exact all-pairs join; oversized cells (one hot Voronoi cell at web
   * scale is an unbounded quadratic — SURVEY §8c measured the hottest
   * sampled-seed cell at ~10% of 1M uniform vectors) are handled in two
   * linear passes:
   *
   *  1. Exact-vector collapse: rows sharing the cell AND the exact
   *     quantized vector keep only the min id (cosine of identical
   *     positive-norm vectors is exactly 1 ≥ any threshold ≤ 1, so these
   *     drops are semantics-preserving — a 100M-copy boilerplate cell
   *     costs one hash aggregate, not 10^16 pairs).
   *  2. The surviving one-row-per-distinct-vector representatives are
   *     salt-split into ⌈reps/maxCellSize⌉ deterministic sub-cells by
   *     xxhash64 of the vector, then all-pairs WITHIN each sub-cell.
   *
   * Error is one-sided: every drop is a true duplicate (it names a
   * concrete lower-id row with cosine ≥ threshold); recall is lost only
   * for distinct-vector near-dup pairs that straddle a salt boundary,
   * and only in cells that exceeded the cap. Candidate pairs are
   * ≤ rows·maxCellSize instead of Σ cell². Planted exact duplicates are
   * always caught (pass 1 is salt-independent), which is what the
   * CappedPairSearchSpec pins. */
  private def cappedDroppedIds(
      assigned: DataFrame,
      cellCols: Seq[String],
      idCol: String,
      threshold: Double,
      maxCellSize: Int): DataFrame = {
    val (small, dups, salted) = cappedSplit(assigned, cellCols, idCol, maxCellSize)
    val dSmall = allPairsDroppedIds(small, cellCols, idCol, threshold)
    // identical-vector drops: the predicate is the VERBATIM floating-
    // point cosine the exact path computes for this (row, rep) pair —
    // dot = __n, denom = sqrt(__n·__n) — not the algebraic
    // `threshold <= 1`. Today both agree everywhere (IEEE correctly-
    // rounded sqrt(fl(x·x)) == x, so the ratio is exactly 1.0), but
    // mirroring the exact path's arithmetic makes the one-sided
    // contract (every capped drop is an uncapped drop) hold by
    // construction, not by a float identity a later refactor of
    // allPairsDroppedIds could silently break.
    val dExact = dups
      .filter(col("__n") > 0 &&
        col("__n").cast(DoubleType) /
          sqrt(col("__n").cast(DoubleType) * col("__n").cast(DoubleType)) >=
          lit(threshold))
      .select(col(idCol).as("__did"))
    val dReps = allPairsDroppedIds(salted, cellCols :+ "__salt", idCol, threshold)
    dSmall.union(dExact).union(dReps)
  }

  /**
   * The shared skew-bounded pair-search core ([[cappedDroppedIds]] and
   * [[Similarity.cosinePairs]] both build on it). Splits `df` — rows
   * keyed by `keyCols` with a quantized vector in `__v` — into:
   *
   *  1. `small`: rows in keys with ≤ maxSize rows (exact all-pairs is
   *     affordable there);
   *  2. `dups`: rows of oversized keys whose exact vector duplicates a
   *     lower id (column `__vrep` names the group's min id) — a g-copy
   *     group yields g−1 rows, to be dropped/star-paired linearly
   *     instead of quadratically;
   *  3. `salted`: the one-row-per-distinct-vector representatives of
   *     oversized keys, salt-split via [[vectorSaltSplit]] so each
   *     (key, __salt) sub-cell holds ~maxSize rows.
   */
  private[operators] def cappedSplit(
      df: DataFrame,
      keyCols: Seq[String],
      idCol: String,
      maxSize: Int): (DataFrame, DataFrame, DataFrame) = {
    val stats = df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__kn"))
    val tagged = df.join(stats, keyCols)
    val small = tagged.filter(col("__kn") <= maxSize).drop("__kn")
    val big = tagged.filter(col("__kn") > maxSize)
    val groups = big.groupBy((keyCols :+ "__v").map(col): _*)
      .agg(min(col(idCol)).as("__vrep"))
    val withRep = big.join(groups, keyCols :+ "__v")
    val dups = withRep.filter(col(idCol) > col("__vrep")).drop("__kn")
    val reps = withRep.filter(col(idCol) === col("__vrep"))
      .drop("__vrep").drop("__kn")
    (small, dups, vectorSaltSplit(reps, keyCols, maxSize))
  }

  /** Deterministic vector-hash salt split (pass 2 of [[cappedDroppedIds]]):
   * adds `__salt` ∈ [0, ⌈cellRows/maxCellSize⌉) keyed on xxhash64 of the
   * quantized vector `__v`, so each (cell, salt) sub-cell holds
   * ~maxCellSize rows and the within-sub-cell quadratic is bounded by
   * ~maxCellSize² candidate pairs regardless of how hot the cell is.
   * Package-private so CappedPairSearchSpec pins the bound on the
   * operator's OWN formula, not a spec-side re-simulation. */
  private[operators] def vectorSaltSplit(
      reps: DataFrame,
      cellCols: Seq[String],
      maxCellSize: Int): DataFrame = {
    val repStats = reps.groupBy(cellCols.map(col): _*)
      .agg(count(lit(1)).as("__rn"))
    reps.join(repStats, cellCols)
      .withColumn("__salt",
        pmod(xxhash64(col("__v")),
          greatest(ceil(col("__rn").cast(DoubleType) / maxCellSize), lit(1.0))
            .cast("long")))
  }

  /**
   * C32: SemDeDup at the billion-row scale path — TWO-LEVEL cell
   * assignment. Flat assignment is O(rows·C·dim); SemDeDup-sized C
   * (~100k cells at web scale) makes that the dominant cost and
   * overflows a constant unrolled centroid matrix. Routing through
   * `nCoarse` coarse cells and then `nFinePerCell` fine cells WITHIN
   * the routed coarse cell costs O(rows·(nCoarse+nFinePerCell)·dim) —
   * 2·√C per row for C = nCoarse·nFinePerCell — while the effective
   * cluster count (and so the within-cell quadratic pair bound) stays C.
   *
   * Level 1 is the codegen'd constant-matrix NearestCells kernel
   * (coarse seeds = first nCoarse ids). Level 2 is a broadcast
   * equi-join on the coarse cell against per-cell fine seeds (first
   * `nFinePerCell` ids assigned to that coarse cell) with an exact
   * integer affinity 2·v·c − ‖c‖², reduced map-side by
   * `max(struct(score, −id))` — so the fine matrix is data-dependent
   * and never materializes on the driver. Every step is deterministic
   * and engine-portable; the whole operator hash-matches a DuckDB
   * replication (q_c32). `maxCellSize` caps hot (ccell, fcell) cells
   * exactly as in [[semDedup]] (0 = exact all-pairs, the oracle mode).
   *
   * @return (idCol, ccell, fcell, keep)
   */
  def semDedupHierarchical(
      df: DataFrame,
      idCol: String,
      quantVecCol: String,
      nCoarse: Int,
      nFinePerCell: Int,
      threshold: Double,
      maxCellSize: Int = 0): DataFrame = {
    import graft.functions.VectorDotLong
    val coarse: Array[Array[Double]] = df
      .filter(col(idCol) < nCoarse).orderBy(idCol)
      .select(col(quantVecCol).cast(ArrayType(DoubleType)))
      .collect().map(_.getSeq[Double](0).toArray)
    require(coarse.nonEmpty, s"no coarse seed rows with $idCol < $nCoarse")
    val routed = df
      .select(col(idCol), col(quantVecCol).as("__v"),
        VectorDotLong(col(quantVecCol), col(quantVecCol)).as("__n"))
      .withColumn("ccell", element_at(
        graft.functions.NearestCells(col("__v").cast(ArrayType(DoubleType)), coarse, 1), 1))
      .transform(Scoped.persistTracked)
    // fine seeds: first nFinePerCell ids of each coarse cell (their own
    // quantized vectors are the centroids — no Lloyd pass, as in C29).
    // Salted two-phase rank: coarse cells are structurally FEW
    // (nCoarse ≈ √C), so a bare PARTITION BY ccell window would funnel
    // the whole routed corpus through nCoarse sort tasks — the
    // r12–r14 verdict class. topNPerKey fans phase 1 across
    // ccell×salt groups and is lossless (scaladoc proof).
    val fineSeeds = CorpusPipeline
      .topNPerKey(routed, Seq(col("ccell")), col(idCol), Seq(col(idCol)),
        nFinePerCell)
      .select(col("ccell"), col(idCol).as("__fid"), col("__v").as("__fv"),
        col("__n").as("__fn"))
    // exact integer affinity; ties break toward the lowest fine seed id.
    // The argmax is ONE packed long so the aggregate stays a codegen'd
    // HashAggregate — max(struct)/first(array) buffers force a
    // SortAggregate over the rows×nFine intermediate (measured 2x the
    // whole operator at 1M rows). Packing contract: |2·v·c − ‖c‖²| must
    // fit 32 bits (true for scale-1000 quantized unit vectors up to
    // dim ≈ 1400) and ids must be < 2^31.
    val SHIFT = 1L << 31
    val best = routed
      .join(broadcast(fineSeeds), Seq("ccell"))
      .select(col("ccell"), col(idCol),
        ((VectorDotLong(col("__v"), col("__fv")) * 2 - col("__fn")) * SHIFT +
          (lit(SHIFT - 1) - col("__fid"))).as("__pack"))
      .groupBy(col("ccell"), col(idCol))
      .agg(max(col("__pack")).as("__p"))
      .select(col("ccell"), col(idCol),
        (lit(SHIFT - 1) - pmod(col("__p"), lit(SHIFT))).as("fcell"))
    // routed already feeds the seeds window + the scoring join; the
    // completed assignment feeds three more shuffles — persist both so
    // the two NearestCells/argmax passes run once each
    val assigned = routed.join(best, Seq("ccell", idCol))
      .transform(Scoped.persistTracked)
    dropHigherIdDuplicates(assigned, Seq("ccell", "fcell"), idCol, threshold,
        maxCellSize)
      .select(col(idCol), col("ccell"), col("fcell"), col("keep"))
  }

  def verifyJaccard(
      candidates: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double): DataFrame = {
    val words = docs.select(
      col(idCol).as("__jid"),
      array_distinct(TextFunctions.tokens(col(textCol))).as("__words"))
    candidates
      .join(words.withColumnRenamed("__jid", "id_a").withColumnRenamed("__words", "wa"), Seq("id_a"))
      .join(words.withColumnRenamed("__jid", "id_b").withColumnRenamed("__words", "wb"), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("wa"), col("wb")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /**
   * C62: incremental near-dedup — today's crawl against the existing
   * corpus INDEX (the production shape: the corpus is already signed
   * and stored; only the new batch is signed fresh, and candidate
   * pairs are NEW × OLD bucket collisions only — never old×old, which
   * a full-corpus re-dedup would redundantly re-verify every day).
   *
   * Returns one row per new document: `(new_id, matched_old_id,
   * jaccard)` where `matched_old_id` is the smallest old id whose
   * verified word-Jaccard ≥ `threshold` (NULL ⇒ novel). Banding and
   * verification reuse the C2 machinery (codegen `MinHashSig`, banded
   * bucket join, exact distinct-word Jaccard); `maxBucketSize` drops
   * boilerplate buckets on the OLD side (same cap semantics as
   * [[minhashCandidates]]). The only shuffles are the bucket join and
   * the two verify joins — new-batch-sized, not corpus-sized.
   */
  def incrementalNearDup(
      oldDocs: DataFrame,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      bands: Int = 16,
      shingleSize: Int = 3,
      threshold: Double = 0.9,
      maxBucketSize: Int = 0): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    // today's batch is consumed three times (signing, word-set verify,
    // final left join) and is small relative to the corpus index —
    // persist it once; the eager pin guards the broadcast-verify race
    val newProj = newDocs.select(col(idCol), col(textCol))
      .transform(Scoped.persistTracked)
    newProj.count()
    def banded(df: DataFrame, out: String): DataFrame = df
      .select(
        col(idCol).as(out),
        graft.functions.MinHashSig(
          TextFunctions.tokens(col(textCol)), shingleSize, numHashes).as("__sig"))
      .select(
        col(out),
        posexplode(transform(
          sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("__sig"), b * rows + 1, lit(rows)), b))))
      .select(col("pos").as("band"), col("col").as("band_hash"), col(out))
    val oldBanded0 = banded(oldDocs, "id_a")
    val oldBanded =
      if (maxBucketSize <= 0) oldBanded0
      else oldBanded0
        .join(
          oldBanded0.groupBy("band", "band_hash")
            .agg(count(lit(1)).as("__bsz")).filter(col("__bsz") <= maxBucketSize)
            .select("band", "band_hash"),
          Seq("band", "band_hash"))
    val candidates = banded(newProj, "id_b")
      .join(oldBanded, Seq("band", "band_hash"))
      .select("id_a", "id_b").distinct()
    val words = (df: DataFrame, side: String, w: String) => df.select(
      col(idCol).as(side), array_distinct(TextFunctions.tokens(col(textCol))).as(w))
    val verified = candidates
      .join(words(oldDocs, "id_a", "wa"), Seq("id_a"))
      .join(words(newProj, "id_b", "wb"), Seq("id_b"))
      .withColumn("__j", jaccard(col("wa"), col("wb")))
      .filter(col("__j") >= threshold)
      .groupBy(col("id_b"))
      .agg(
        min(col("id_a")).as("matched_old_id"),
        // the jaccard OF the kept (smallest-id) match, not the max over
        // all matches — keeps the row a deterministic function of ids
        expr("min_by(__j, id_a)").as("jaccard"))
    newProj.select(col(idCol).as("new_id"))
      .join(verified.withColumnRenamed("id_b", "new_id"), Seq("new_id"), "left")
  }

  /**
   * C91: asymmetric containment detection — the dedup-ladder rung
   * Jaccard can't see: an excerpt/quote A lifted from a long document
   * B has tiny Jaccard (|A∩B|/|A∪B| is diluted by B's size) but
   * containment |shingles(A) ∩ shingles(B)| / |shingles(A)| ≈ 1. The
   * standard curation use: drop extraction-duplicates (article → quote
   * farm) and detect benchmark excerpts embedded in crawl docs.
   *
   * Candidates come from a distinct-shingle posting join, NEVER an
   * all-pairs product: per-shingle document lists are df-capped
   * (`dfCap`, the C40/C61 device — a boilerplate shingle shared by
   * thousands of docs would otherwise quadratically explode the pair
   * count; dropping it only LOWERS intersections, so capped
   * containments are conservative and the union denominators stay
   * exact). Pair cost is bounded by Σ_g df(g)² ≤ dfCap · |postings|.
   * Docs with fewer than `n` tokens are gated out (a whole-doc
   * degenerate shingle is not containment evidence — the inverse of
   * q_c22's WordShingles contract). With `hashKeys` the posting
   * shuffles carry 8-byte xxhash64 keys instead of shingle strings
   * (the stupidBackoffSurprisal lesson: string join keys alone cost
   * 1.3-2×) — identical results unless 64-bit hashes collide
   * (spec-pinned equal; since r19 the oracle-checked query runs
   * hashKeys=true too, hash-verified at all three SFs).
   *
   * @return (id_a, id_b, inter, sz_a, sz_b, contain_a_ppm,
   *         contain_b_ppm) for pairs with max-side containment ≥
   *         `minContainPpm`; all integer-exact.
   */
  def containmentPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 5,
      dfCap: Int = 50,
      minContainPpm: Long = 500000L,
      hashKeys: Boolean = true): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(dfCap >= 2, s"dfCap must be >= 2 (pairs need both sides), got $dfCap")
    val keyed = docs
      .select(col(idCol).as("__id"), TextFunctions.tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= n)
      .select(col("__id"),
        explode(array_distinct(graft.functions.WordShingles(col("__t"), n))).as("__g"))
    val sh = (if (hashKeys) keyed.select(col("__id"), xxhash64(col("__g")).as("__g"))
      else keyed)
      .transform(Scoped.persistTracked)
    sh.count() // pin: feeds sizes and the posting-group pass
    val sizes = sh.groupBy("__id").agg(count(lit(1)).as("sz"))
    // Pair generation (r19): ONE pass over the postings instead of the
    // kept = sh⋈dfTbl SELF-join — that shape evaluated dfTbl and the
    // join once PER pair side (the df⋈agg(df) recompute class,
    // CLAUDE.md) and moved the 25M-row ×100 posting frame through ~5
    // full-size exchanges for a pair stream that is only Σ df(df−1)/2
    // ≈ 1.7M rows (measured /tmp/sf10: Σ df² 28.8M vs Σ df 25.4M —
    // nearly all grams are df=1). Now: one exchange on the gram key, a
    // same-key window df count (near-unique keys — the window ≈
    // aggregate regime of the BASELINE r16 appendix, and it saves the
    // join's second exchange), the dfCap gate, then the dupGramStats
    // device — collect the ≤ dfCap sorted owner list per gram WITHOUT
    // a new exchange and explode the i<j combinations map-side.
    // Per-gram state is bounded by dfCap ids (the cap gate runs before
    // the collect). Pair multiplicity per gram is exactly 1 (postings
    // are doc-distinct), so the count-per-(a,b) aggregate is the same
    // capped intersection as the old self-join's.
    val wg = org.apache.spark.sql.expressions.Window.partitionBy("__g")
    val grp = sh
      .withColumn("__df", count(lit(1)).over(wg))
      .filter(col("__df") <= dfCap)
      .groupBy("__g").agg(sort_array(collect_list(col("__id"))).as("__ids"))
    val pairs = grp
      .select(col("__ids"), posexplode(col("__ids")).as(Seq("__pa", "id_a")))
      .select(col("id_a"),
        explode(slice(col("__ids"), col("__pa") + lit(2), size(col("__ids"))))
          .as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.select(col("__id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("__id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("contain_a_ppm", expr("inter * 1000000L div sz_a"))
      .withColumn("contain_b_ppm", expr("inter * 1000000L div sz_b"))
      .filter(greatest(col("contain_a_ppm"), col("contain_b_ppm")) >= minContainPpm)
      .select("id_a", "id_b", "inter", "sz_a", "sz_b",
        "contain_a_ppm", "contain_b_ppm")
  }

  /** Shared md5 signature-chain device (C68/C93/C95 — the bit-for-bit
   * replay the DuckDB oracles depend on, kept in ONE place so the
   * consumers can never drift from each other or from the oracles):
   * gram hash h = md5₅₂(g); permutation j's slot = md5₅₂(h ∥ "_j"); a
   * doc's signature = per-j min over its distinct gram hashes; band
   * b's key = the struct of its sigs/bands consecutive slots.
   * Conventions: input gram column is named "g", hash column "h",
   * signature columns "s0".."s{sigs-1}". */
  private def md5GramHash: Column =
    conv(substring(md5(col("g")), 1, 13), 16, 10).cast(LongType)

  private def sigBandStructs(sigs: Int, bands: Int): Seq[Column] = {
    val rpb = sigs / bands
    (0 until bands).map { b =>
      struct((0 until rpb).map(r => col(s"s${b * rpb + r}").as(s"k$r")): _*)
    }
  }

  /** Band structs read from a single signature ARRAY column — the
   * map-only [[graft.functions.Md5MinhashSig]] shape (r20): the
   * expression computes the identical per-doc slot minima per ROW
   * (min over a multiset of gram hashes IS min over the distinct
   * set, and `tokens()` never yields an empty array — empty text is
   * one "" token, so the < shingle whole-text degradation matches
   * [[graft.functions.TextFunctions.shingles]] exactly), removing
   * the corpus-wide shingle explode + per-doc combining aggregate
   * exchange the s0..s{n-1} column chain paid. Field names mirror
   * [[sigBandStructs]]. */
  private def sigBandStructsFrom(sig: Column, sigs: Int, bands: Int): Seq[Column] = {
    val rpb = sigs / bands
    (0 until bands).map { b =>
      struct((0 until rpb).map(r =>
        element_at(sig, b * rpb + r + 1).as(s"k$r")): _*)
    }
  }

  /**
   * C95: LSH parameter recall audit — MEASURE the configured
   * MinHash-LSH's S-curve on YOUR corpus before burning 100 TB on it:
   * for every true near-dup pair (exact hashed-shingle Jaccard ≥
   * `minJaccardPpm`, ground truth from a df-capped posting join — the
   * C91 device on 8-byte md5 keys), did the (bands × rows) banding
   * actually emit the pair as a candidate? Reported per Jaccard decile
   * (decile = J_ppm div 10⁵), so the output IS the measured recall
   * curve the analytic 1−(1−J^r)^b formula only predicts — template
   * corpora with correlated shingles routinely miss the analytic
   * curve, which is exactly what this audit exists to catch.
   *
   * The md5 signature chain (h = md5₅₂(g), slot_j = md5₅₂(h ∥ "_j"))
   * is the C68/C93 replayable device; ground truth and signatures
   * share ONE persisted distinct-(id, h) frame, so the whole audit is
   * one corpus scan. The catch test never materializes the LSH pair
   * explosion: true pairs (bounded by the df cap) join the per-id band
   * keys and a pair is caught iff ANY band's sig-tuple matches —
   * |true pairs| · bands rows, never buckets².
   *
   * Exactness notes: Jaccard is over distinct md5₅₂-hashed shingles
   * (a 52-bit collision would merge two shingles — odds ~n²/2⁵³,
   * deterministic and identically replayed either way); the df cap
   * drops boilerplate postings, so `inter` is conservative while
   * sizes stay exact — same contract as C91.
   *
   * At corpus scale, run the audit on a deterministic content-hash
   * SAMPLE (`samplePpm` < 10⁶ keeps docs with md5-bucket(id) <
   * samplePpm — the C17 reprocessing-stable device): recall per
   * decile is a statistical property of the signature scheme, so a
   * 1% sample answers the parameter question at 10⁻⁴ of the
   * ground-truth join's cost (the exact-Jaccard side is the
   * quadratic-by-nature heart of any audit — Σdf² ≤ dfCap·|postings|
   * bounds it, sampling shrinks |postings| itself). Note the sample
   * thins PAIRS quadratically: both endpoints must survive, so
   * planted-pair density should be sized accordingly.
   *
   * @return per decile: (decile, n_pairs, n_caught, recall_ppm)
   */
  def lshRecallAudit(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      sigs: Int = 16,
      bands: Int = 8,
      dfCap: Int = 50,
      minJaccardPpm: Long = 100000L,
      samplePpm: Long = 1000000L): DataFrame = {
    require(sigs >= 1 && sigs <= 64 && bands >= 1 && sigs % bands == 0,
      s"sigs=$sigs must be in [1,64] and a multiple of bands=$bands")
    require(n >= 1 && dfCap >= 1, s"n=$n and dfCap=$dfCap must be >= 1")
    require(minJaccardPpm >= 1L && minJaccardPpm <= 1000000L,
      s"minJaccardPpm=$minJaccardPpm must be in [1, 1e6]")
    require(samplePpm >= 1L && samplePpm <= 1000000L,
      s"samplePpm=$samplePpm must be in [1, 1e6]")
    val sampled =
      if (samplePpm >= 1000000L) docs
      else docs.filter(
        TextFunctions.md5Bucket(col(idCol).cast(StringType), 1000000) < samplePpm)
    val hs = sampled
      .select(col(idCol).cast(LongType).as("id"),
        explode(TextFunctions.shingles(col(textCol), n)).as("g"))
      .select(col("id"), md5GramHash.as("h")).distinct()
      .transform(Scoped.persistTracked)
    hs.count() // pin: sizes, df table and the pair path (the sig
               // path is map-only over the sampled docs since r20)
    val sizes = hs.groupBy("id").agg(count(lit(1)).as("sz"))
    // Pair generation (r19): one pass over the postings — same-key
    // window df count on a single gram-key exchange, dfCap gate, then
    // the ≤ dfCap sorted owner list per gram collected WITHOUT a new
    // exchange and the i<j combinations exploded map-side (the
    // containmentPairs/dupGramStats device; the old kept = hs⋈dfT
    // SELF-join evaluated dfT once per pair side and re-exchanged the
    // full posting frame — the df⋈agg(df) recompute class).
    val wh = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val grpP = hs
      .withColumn("__df", count(lit(1)).over(wh))
      .filter(col("__df") <= dfCap)
      .groupBy("h").agg(sort_array(collect_list(col("id"))).as("__ids"))
    val pairs = grpP
      .select(col("__ids"), posexplode(col("__ids")).as(Seq("__pa", "id_a")))
      .select(col("id_a"),
        explode(slice(col("__ids"), col("__pa") + lit(2), size(col("__ids"))))
          .as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("j_ppm", expr("inter * 1000000L div (sz_a + sz_b - inter)"))
      .filter(col("j_ppm") >= minJaccardPpm)
    // r20: signatures compute MAP-ONLY per sampled row (Md5MinhashSig
    // behind the SingletonArray Generate barrier — the q_c93 device;
    // bit-identical to the old hs.groupBy(id) slot-min chain since min
    // over the shingle multiset IS min over distinct hashes). Removes
    // the per-doc combining-aggregate exchange over the posting frame;
    // matched-JVM A/B: 0.8-1.6 -> 0.4-0.5 s sf0.1, 2.0-3.1 -> 1.4 s
    // ×10, outputs bit-equal.
    val sigTbl = sampled
      .select(col(idCol).cast(LongType).as("id"),
        explode(graft.functions.SingletonArray(graft.functions.Md5MinhashSig(
          TextFunctions.tokens(col(textCol)), n, sigs))).as("__sig"))
      .select(col("id") +: (0 until sigs).map(j =>
        element_at(col("__sig"), j + 1).as(s"s$j")): _*)
    val bd = sigTbl.select(col("id"),
      posexplode(array(sigBandStructs(sigs, bands): _*)).as(Seq("band", "bk")))
    pairs
      .join(bd.select(col("id").as("id_a"), col("band"), col("bk").as("bk_a")),
        Seq("id_a"))
      .join(bd.select(col("id").as("id_b"), col("band"), col("bk").as("bk_b")),
        Seq("id_b", "band"))
      .groupBy("id_a", "id_b", "j_ppm")
      .agg(max(when(col("bk_a") === col("bk_b"), 1L).otherwise(0L)).as("caught"))
      .withColumn("decile", expr("j_ppm div 100000L"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_pairs"), sum("caught").as("n_caught"))
      .withColumn("recall_ppm", expr("n_caught * 1000000L div n_pairs"))
      .orderBy("decile")
  }

  /**
   * C93: dedup-ladder attrition funnel — the pipeline-ablation
   * dashboard every curation run reports: per source, how many docs
   * and tokens SURVIVE each rung of the ladder (raw → exact →
   * normalized → near-dup), with each rung applied to the previous
   * rung's survivors (published survivors of a finer rung can't be
   * re-dropped by a coarser one — the C85 cascade-among-failing
   * inversion). Rungs:
   *
   *   1 exact       — min-id per md5(text) group
   *   2 normalized  — min-id per [[TextFunctions.normalizeText]] group,
   *                   among rung-1 survivors
   *   3 minhash     — md5-based `sigs`-permutation MinHash over
   *                   distinct word `shingle`-shingles, cut into
   *                   `bands`; a survivor drops iff ANY of its band
   *                   buckets contains a smaller rung-2 survivor (the
   *                   D9/C86 greedy min-owner rule)
   *
   * The md5 hash chain (h = md5₅₂(g), slot_j = md5₅₂(h ∥ "_j")) is the
   * C68 device — deliberately chosen over the xxhash production
   * signature ([[minhashCandidates]]) because any SQL engine replays
   * it bit-for-bit: the funnel is the AUDIT view of the ladder, and an
   * audit the oracle can't replay audits nothing.
   *
   * Scale shape: the cascade is conditional window minima on ONE
   * persisted SLIM frame — both dedup keys are 32-char md5 digests
   * (exact-key grouping is equivalence-preserved under md5, the C52
   * fingerprint device), so the two window exchanges carry ~100 bytes
   * per row and the document text NEVER shuffles (the first cut keyed
   * the normalized rung on the full normalized text — at 100 TB that
   * is two extra corpus-text shuffles); the minhash rung re-scans the
   * column-pruned (id, text) projection once and shuffles per-doc
   * signatures into (band, sig-pair) buckets — bucket-bounded like
   * every LSH rung — and ONE final aggregate melts all four rungs out
   * of the flag frame.
   *
   * @return (rung, rung_name, source, docs, tokens) — tokens are
   *         whitespace counts of the RAW text, so rung deltas measure
   *         what each rung removed from the training budget. The raw
   *         rung counts EVERY input doc: null/empty-text docs (which
   *         produce no shingles and so never enter the minhash path)
   *         ride a left join and inherit their normalized-rung fate.
   */
  /**
   * C108: EXACT-threshold Jaccard set-similarity join — prefix
   * filtering (the PPJoin family, Xiao 2008): the exact counterpart to
   * the repo's approximate rungs (C2 MinHash-LSH recalls with an
   * S-curve, C4 verifies only LSH candidates; this finds EVERY pair
   * with J ≥ t, the contract a legal/compliance dedup needs). Set
   * elements are distinct `shingle`-gram 13-hex md5 hashes (slim
   * 8-byte keys, oracle-replayable).
   *
   * The filter: order every doc's elements by (df ASC, hash) — one
   * GLOBAL total order, applied per doc — and keep only the first
   * |x| − ceil(t·|x|) + 1 (the prefix). Two sets with J ≥ t MUST share
   * a prefix element under any common order (dropping the suffix of
   * one set removes < the Jaccard slack), so the equi-join of prefixes
   * is a complete candidate set; a length ratio filter
   * (t·max ≤ min) rides the join condition and exact verification
   * (one intersection count per candidate) closes it. Rarest-first
   * ordering makes prefix elements the LOW-df ones, which is what
   * keeps the candidate join off the hot tokens.
   *
   * Positional filter (Xiao 2008 §3.2, added r14): each prefix row
   * carries its rank i in the doc's global element order, and the
   * candidate join requires 1 + min(|x|−i, |y|−j) ≥ α where
   * α = ⌈t·(|x|+|y|)/(1+t)⌉ is the overlap a J ≥ t pair needs.
   * Lossless: common elements appear in the SAME relative order in
   * both docs (one global order), so at the pair's FIRST common
   * element nothing common precedes position i in x or j in y and
   * the overlap is exactly 1 + |common after| ≤ 1 + min(|x|−i,
   * |y|−j); that first common element provably sits inside both
   * prefixes (if it didn't, overlap ≤ ⌈t|x|⌉ − 1 < α), so every
   * true pair keeps ≥ 1 candidate row. What it prunes is pairs whose
   * prefix collisions all sit too LATE in both lists to reach α —
   * exactly the adversarial high-overlap corpora the exactness
   * contract targets (measured on the ×10 tier, q_c108 plant:
   * candidate rows 815,017 → 282,174 and distinct pairs entering
   * verification 626,172 → 191,005, final pairs identical at 19,157).
   *
   * Scale shape: distinct (id, hash) persists once and feeds df build
   * + prefix + both verify sides; the prefix rank is a PER-DOC window
   * (doc-keyed — parallel at any corpus size); candidate volume is
   * data-dependent but prefix-minimized (the exact join's output can
   * itself be quadratic — no cap is applied because a cap would break
   * the exactness contract). All integer (ppm threshold,
   * cross-multiplied), so the oracle replays the WHOLE join in SQL.
   */
  def jaccardJoinExact(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      thresholdPpm: Long = 800000L,
      shingle: Int = 3): DataFrame = {
    require(thresholdPpm > 0L && thresholdPpm <= 1000000L, "t in (0, 1]")
    val toks = docs
      .select(col(idCol).cast(LongType).as("id"),
        explode(TextFunctions.shingles(col(textCol), shingle)).as("g"))
      .select(col("id"), md5GramHash.as("h")).distinct()
      .transform(Scoped.persistTracked)
    toks.count() // feeds df + prefix + both verify sides
    val dfTbl = toks.groupBy("h").agg(count(lit(1)).as("df"))
    val sizes = toks.groupBy("id").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df"), col("h"))
    val prefix = toks.join(dfTbl, "h").join(sizes, "id")
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <=
        col("n") - expr(s"($thresholdPpm * n + 999999) div 1000000") + 1)
      .select(col("id"), col("n"), col("h"), col("__r").as("r"))
      .transform(Scoped.persistTracked)
    prefix.count()
    // positional filter: bound ≥ α ⇔ bound·(1+t) ≥ t·(|x|+|y|) since
    // the bound is integral (cross-multiplied in ppm, overflow-safe:
    // n ≤ shingle count ≪ 2⁶³/2e6).
    // r20 note (measured negative, kept as the join): a two-tier
    // grouped owner-list rewrite (window prefix-count → ≤64-key
    // collect+map-side pairs, self-join above the cap) produced the
    // identical pair set but ran ~1.2 s SLOWER at ×100 (old 1.7-2.7 s
    // vs 2.9-3.6 s matched-JVM) — this stage is NOT the q_c108 cost:
    // prefix is persisted (no per-side re-evaluation exists), the
    // pair join is AQE-skew-splittable (a grouped aggregate is not),
    // and rarest-first prefix ordering keeps its keys cold, so the
    // added same-key window pass only adds work. OPTIMIZATION_r20.md.
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
          col("b.n") * 1000000L >= col("a.n") * thresholdPpm &&
          col("a.n") * 1000000L >= col("b.n") * thresholdPpm &&
          (lit(1L) + least(col("a.n") - col("a.r"), col("b.n") - col("b.r"))) *
            (1000000L + thresholdPpm) >=
            lit(thresholdPpm) * (col("a.n") + col("b.n")))
      .select(col("a.id").as("ida"), col("b.id").as("idb"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .distinct()
    cand
      .join(toks.select(col("id").as("ida"), col("h")), Seq("ida"))
      .join(toks.select(col("id").as("idb"), col("h")), Seq("idb", "h"))
      .groupBy("ida", "idb", "na", "nb")
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter") * 1000000L >=
        lit(thresholdPpm) * (col("na") + col("nb") - col("inter")))
      .select(col("ida"), col("idb"), col("na"), col("nb"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"),
        expr("inter * 1000000 div (na + nb - inter)").as("jac_ppm"))
  }

  /**
   * C121: train/eval split-leakage audit — the QA artifact behind the
   * Lee et al. 2022 finding that ~4.6% of C4's validation set has a
   * near-duplicate in train: AFTER a split is assigned, how much of
   * the eval side still has a train-side counterpart at each dedup
   * grain? Three independent detectors per (rung, source): exact text
   * (md5 key), normalized text (case/punct/reflow-invariant md5 key),
   * and MinHash band collision (the C2/C93 md5 signature chain — an
   * eval doc "leaks" if ANY of its band buckets contains a train
   * doc). Split assignment is the C14/C17 md5₅₂-ppm device on the doc
   * id, so the WHOLE audit — split, keys, signatures, verdicts —
   * replays in SQL.
   *
   * Scale shape: no corpus joins, no windows. The exact/normalized
   * rungs are two family-grain aggregates joined at the FAMILY grain
   * (per-key train bit ⋈ per-(key, src) eval counts — both bounded by
   * distinct texts); the minhash rung unpacks band keys map-side from
   * the per-row [[graft.functions.Md5MinhashSig]] signature carried
   * on the same base pass (bit-identical to the old explode +
   * slot-min aggregate chain — r20), feeding a per-bucket train-bit
   * aggregate joined back to the eval band rows. Null/empty texts
   * keep a sentinel key — identical empty content across splits IS
   * leakage.
   *
   * @return (rung, rung_name, sourceCol, eval_docs, leaked_docs,
   *         leak_ppm) — leak_ppm = leaked·10⁶ div eval, per source.
   */
  def splitLeakage(
      docs: DataFrame,
      idCol: String = "doc_id",
      sourceCol: String = "source",
      textCol: String = "text",
      trainPpm: Int = 900000,
      seed: String = "split",
      sigs: Int = 8,
      bands: Int = 4,
      shingle: Int = 3): DataFrame = {
    require(trainPpm > 0 && trainPpm < 1000000,
      s"trainPpm must be in (0, 1e6), got $trainPpm")
    require(sigs >= 1 && sigs <= 64 && bands >= 1 && sigs % bands == 0,
      s"sigs=$sigs must be in [1,64] and a multiple of bands=$bands")
    val isTrain = (conv(substring(md5(concat(lit(s"$seed:"),
      col(idCol).cast(StringType))), 1, 13), 16, 10).cast(LongType)
      % 1000000L) < trainPpm
    // 8-byte xxhash64 content keys with a length disambiguator, not
    // 32-char md5 strings: the keys ride BOTH family aggregates and
    // the famEval⋈famTrain join, and string keys alone cost 1.3-2x on
    // a hot shuffle (the stupidBackoff lesson; same (hash, length)
    // collision guard as attritionFunnel — r16 advice). xxhash64(NULL)
    // folds to the seed and length(NULL) is NULL, so null texts group
    // together exactly as the old "null" sentinel did. Family
    // PARTITIONS are unchanged, so the md5-keyed oracle still replays.
    // Length keys carry a -1 sentinel for NULL text (r17 advice):
    // length(NULL) is NULL and the equi-join famEval⋈famTrain drops
    // null keys, which would silently stop counting a null-text eval
    // doc whose twin is in train — and "identical empty content across
    // splits IS leakage" is this operator's documented contract.
    // xxhash64(NULL) already folds to the seed, so (seed, -1) is a
    // dedicated family no real text can collide into (real lengths
    // are >= 0).
    val base = docs.select(
        col(idCol).cast(LongType).as("id"),
        col(sourceCol).cast(StringType).as("src"),
        xxhash64(col(textCol)).as("ke"),
        coalesce(length(col(textCol)).cast(LongType), lit(-1L)).as("le"),
        xxhash64(TextFunctions.normalizeText(col(textCol))).as("kn"),
        coalesce(length(TextFunctions.normalizeText(col(textCol)))
          .cast(LongType), lit(-1L)).as("ln"),
        isTrain.as("tr"),
        // r20: the minhash signature rides the SAME pass — the
        // map-only Md5MinhashSig expression is bit-identical to the
        // old explode + per-doc slot-min aggregate (min over the
        // shingle multiset == min over distinct hashes; null text →
        // null sig, exactly the rows the old explode dropped), so the
        // second full scan of the input, the shingle-grain explode,
        // the per-doc combining-aggregate exchange, and the sigT⋈base
        // join all disappear (guide §2.4: remove shuffles outright).
        graft.functions.Md5MinhashSig(
          TextFunctions.tokens(col(textCol)), shingle, sigs).as("__sig"))
      .transform(Scoped.persistTracked)
    base.count() // pin: evalTot, three rung branches and both minhash
                 // consumers race inside the caller's single action
    val evalTot = base.filter(!col("tr"))
      .groupBy("src").agg(count(lit(1)).as("eval_docs"))
    def rungLeak(keys: Seq[String]): DataFrame = {
      val famTrain = base.groupBy(keys.map(col): _*)
        .agg(max(when(col("tr"), 1L).otherwise(0L)).as("ht"))
      val evalKeys = keys.map(col) :+ col("src")
      val famEval = base.filter(!col("tr"))
        .groupBy(evalKeys: _*)
        .agg(count(lit(1)).as("ec"))
      famEval.join(famTrain, keys)
        .groupBy("src")
        .agg(sum(when(col("ht") === 1L, col("ec")).otherwise(0L)).as("leaked"))
    }
    // signatures over ALL docs (train docs must populate the buckets
    // an eval doc can collide with): band rows unpack map-side from
    // the per-row signature base already carries — no second input
    // scan, no shingle-grain exchange (r20, see the __sig note above)
    val bandRows = base.filter(col("__sig").isNotNull)
      .select(col("id"), col("src"), col("tr"),
        posexplode(array(sigBandStructsFrom(col("__sig"), sigs, bands): _*))
          .as(Seq("band", "bk")))
    val bucketTrain = bandRows.groupBy("band", "bk")
      .agg(max(when(col("tr"), 1L).otherwise(0L)).as("ht"))
    val leak3 = bandRows.filter(!col("tr"))
      .join(bucketTrain, Seq("band", "bk"))
      .groupBy("id", "src").agg(max("ht").as("l"))
      .groupBy("src").agg(sum("l").as("leaked"))
    val rungs = Seq(
      ("exact", rungLeak(Seq("ke", "le"))),
      ("normalized", rungLeak(Seq("kn", "ln"))),
      ("minhash", leak3))
    rungs.zipWithIndex.map { case ((name, leakDf), i) =>
      evalTot.join(leakDf, Seq("src"), "left")
        .select(lit(i.toLong).as("rung"), lit(name).as("rung_name"),
          col("src").as(sourceCol), col("eval_docs"),
          coalesce(col("leaked"), lit(0L)).as("leaked_docs"),
          expr("coalesce(leaked, 0) * 1000000 div eval_docs").as("leak_ppm"))
    }.reduce(_ unionAll _).orderBy("rung", sourceCol)
  }

  def attritionFunnel(
      docs: DataFrame,
      idCol: String = "doc_id",
      sourceCol: String = "source",
      textCol: String = "text",
      sigs: Int = 8,
      bands: Int = 4,
      shingle: Int = 3): DataFrame = {
    require(sigs >= 1 && sigs <= 64 && bands >= 1 && sigs % bands == 0,
      s"sigs=$sigs must be in [1,64] and a multiple of bands=$bands")
    // Exact/normalized rungs as family-owner AGGREGATES, not
    // min-over-Window.partitionBy(content key): a window partition is
    // one duplicate family and gets no map-side combine and no AQE
    // skew split, so a C4-style 100k-copy boilerplate family funneled
    // through one sort task (r15 verdict hardening item). ke refines
    // kn (identical texts normalize identically), so ONE (kn, ke)
    // combining aggregate feeds both rungs: its min id IS own1, and
    // own2 = min own1 per kn. The slim keyed frame is persisted+pinned
    // (the fam aggregates, the join-back probe, and d's two consumers
    // all read it — one docs scan total on this path).
    val base = docs
      .select(col(idCol).cast(LongType).as("id"),
        col(sourceCol).cast(StringType).as("src"),
        TextFunctions.tokenCount(col(textCol)).cast(LongType).as("t"),
        // 8-byte xxhash64 content keys, not 32-char md5 strings: the
        // keys ride the dominant aggregate, and string keys alone
        // cost 1.3-2x on a hot shuffle (the stupidBackoffSurprisal
        // lesson). xxhash64(NULL) folds to the seed, so null texts
        // group together exactly as the old window's null partition
        // did. Each hash carries the text LENGTH as a disambiguator
        // (r16 advice): a bare 64-bit collision would silently merge
        // two unrelated documents into one family and drop a
        // non-duplicate at the exact rung — (hash, length) keeps the
        // shuffle key 16 bytes while making a silent merge require a
        // same-length hash collision.
        xxhash64(col(textCol)).as("ke"),
        length(col(textCol)).cast(LongType).as("le"),
        xxhash64(TextFunctions.normalizeText(col(textCol))).as("kn"),
        length(TextFunctions.normalizeText(col(textCol))).cast(LongType)
          .as("ln"))
      .transform(Scoped.persistTracked)
    // The funnel never joins back to the corpus frame: every rung is a
    // per-src sum over FAMILY WINNERS, and min_by carries the winner's
    // (src, t) payload through the same combining HashAggregate that
    // finds the min id (min_by, not min(struct) — a struct min forces
    // SortAggregate, the ExactSubstr r15 packing lesson). ke refines
    // kn (identical texts normalize identically), so the rung-1
    // winner table feeds rung 2 directly; the winner table is
    // persisted (rung-2/3 rollups, the signature semi-join, and the
    // keep3 join all read it — cache filled by the sigK pin below).
    val fam1 = base.groupBy("kn", "ln", "ke", "le").agg(
      min("id").as("id"),
      min_by(col("src"), col("id")).as("src"),
      min_by(col("t"), col("id")).as("t"))
    val fam2 = fam1.groupBy("kn", "ln").agg(
      min("id").as("id"),
      min_by(col("src"), col("id")).as("src"),
      min_by(col("t"), col("id")).as("t"))
      .drop("kn", "ln")
      .transform(Scoped.persistTracked)
    val perSrc0 = base.groupBy("src")
      .agg(count(lit(1)).as("d0"), sum("t").as("t0"))
    val perSrc1 = fam1.groupBy("src")
      .agg(count(lit(1)).as("d1"), sum("t").as("t1"))
    val perSrc2 = fam2.groupBy("src")
      .agg(count(lit(1)).as("d2"), sum("t").as("t2"))
    // Minhash rung over RUNG-2 SURVIVORS only (output-identical: a
    // non-survivor can neither own a bucket — the old own3 was min
    // over keep2 ids — nor be published at rung 3, so its shingles
    // were dead weight): the semi-join runs BEFORE the signature
    // pass, so it prices survivors, not the raw union. Signatures
    // compute MAP-ONLY per row via Md5MinhashSig (r20) — bit-
    // identical to the old shingle explode + per-doc slot-min
    // combining aggregate (min over the shingle multiset IS min over
    // distinct gram hashes) — removing the per-doc aggregate exchange
    // outright (guide §2.4). The null-text drop (the rows the old
    // explode emitted nothing for) MUST be the explode(SingletonArray)
    // Generate barrier, not filter(isNotNull): predicate pushdown +
    // PhysicalOperation inline the signature alias into the filter
    // AND each unpacked slot — ~10 evaluations/row, measured 102 s vs
    // the barrier's 10.4 s (old chain 23 s) on the ×100 tier. Slots
    // unpack from the Generate's OUTPUT attribute (never inlined) and
    // persist in the old (id, s0..s{n-1}) primitive layout.
    // Persisted+pinned — the bucket-min aggregate and its join-back
    // probe both consume it.
    val sigK = docs
      .select(col(idCol).cast(LongType).as("id"), col(textCol).as("__txt"))
      .join(fam2.select(col("id")), Seq("id"), "left_semi")
      .select(col("id"), explode(graft.functions.SingletonArray(
        graft.functions.Md5MinhashSig(
          TextFunctions.tokens(col("__txt")), shingle, sigs))).as("__sig"))
      .select(col("id") +: (0 until sigs).map(j =>
        element_at(col("__sig"), j + 1).as(s"s$j")): _*)
      .transform(Scoped.persistTracked)
    // ONE eager pin materializes the whole upstream chain: sigK's
    // plan reaches through fam2 (semi-join build side) and base, so
    // this single action populates all three caches — separate
    // base/fam2 pin counts were two redundant full passes (sequential
    // jobs populate persisted plans themselves; eager pins only pay
    // when consumers race inside ONE action). The final rollup action
    // then reads warm caches on every branch.
    sigK.count()
    val bandRows = sigK.select(col("id"),
      posexplode(array(sigBandStructs(sigs, bands): _*)).as(Seq("band", "bk")))
    val bucketMin = bandRows.groupBy("band", "bk").agg(min("id").as("own3"))
    val keep3 = bandRows
      .join(bucketMin, Seq("band", "bk"))
      .groupBy("id")
      .agg(min("own3").as("__mo"))
      .select(col("id"), (col("__mo") === col("id")).as("keep3"))
    // LEFT join + coalesce(true): a survivor with no shingles (null/
    // empty/short text) never reaches sigK — no shingles ⇒ no
    // near-dup candidates ⇒ its minhash fate equals its normalized
    // fate (kept), the r12 verdict rule at the winner grain.
    val perSrc3 = fam2
      .join(keep3, Seq("id"), "left")
      .filter(coalesce(col("keep3"), lit(true)))
      .groupBy("src")
      .agg(count(lit(1)).as("d3"), sum("t").as("t3"))
    val rungNames = Seq("raw", "exact", "normalized", "minhash")
    // per-src rollups join at the SOURCE grain (bounded by the label
    // set); a src whose every doc lost a rung shows 0, never null
    perSrc0
      .join(perSrc1, Seq("src"), "left")
      .join(perSrc2, Seq("src"), "left")
      .join(perSrc3, Seq("src"), "left")
      .select(col("src"), posexplode(array(
        struct(col("d0").as("docs"), col("t0").as("tokens")) +:
          (1 to 3).map(r => struct(
            coalesce(col(s"d$r"), lit(0L)).as("docs"),
            coalesce(col(s"t$r"), lit(0L)).as("tokens"))): _*))
        .as(Seq("rung", "rs")))
      .select(col("rung").cast(LongType).as("rung"),
        element_at(typedlit(rungNames), col("rung") + 1).as("rung_name"),
        col("src").as(sourceCol),
        col("rs.docs").as("docs"), col("rs.tokens").as("tokens"))
      .orderBy("rung", sourceCol)
  }
}
