package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, scale-first:
  *
  *  - [[exactGroups]] — hash-groupBy; one shuffle on a 64-hex key.
  *  - [[jaccardPairs]] — exact n-gram Jaccard via shingle-inverted-index
  *    self-join (the scalable exact method: pairs only materialize for
  *    docs sharing ≥1 shingle, never O(N²) over the corpus).
  *  - [[jaccardPairsPrefix]] — same output, PPJoin-style prefix filter.
  *  - [[minhashLshPairs]] — MinHash signatures + banded LSH: candidate
  *    pairs come from band-bucket joins (sub-linear) and ONLY candidates
  *    are verified (array_intersect over the two shingle sets — never a
  *    full-corpus join). The 100-TB path.
  *  - [[simhash]] / [[simhashPairs]] — 60-bit SimHash + Hamming ball.
  *  - [[connectedComponents]] — fold near-dup PAIRS into duplicate GROUPS
  *    with a canonical survivor (min-label propagation).
  *
  * Hashing is md5-derived (leading hex chars → integer): deterministic
  * across runs and cluster sizes AND bit-for-bit reproducible in external
  * SQL engines, so every operator here can be DuckDB-oracled.
  */
object DedupOps {

  /** 60-bit hash: integer value of md5's leading 15 hex chars. */
  private[ops] def h60(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** 52-bit companion hash (md5 hex chars 16..28) for double hashing:
    * g_i = h60 + i·h52 stays under 2^61 for i ≤ 31 — no 64-bit overflow,
    * so engines with checked arithmetic (DuckDB) reproduce it exactly.
    */
  private[ops] def h52(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 16, 13), 16, 10).cast("long")

  /** Exact-duplicate groups by normalized-text fingerprint:
    * (fingerprint, n_docs, canonical_id = min id). Singleton groups are
    * INCLUDED by design — the output is the corpus KEEP-LIST (join it back
    * on canonical_id to rewrite the corpus one-doc-per-fingerprint);
    * filter n_docs > 1 for a dup-groups-only view (what
    * [[connectedComponents]] emits for near-dups).
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextOps.fingerprint(col(textCol)).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("canonical_id"))

  /** Fan a narrow input out to the session's parallelism before the
    * CPU-heavy shingle stage. Corpora often arrive as few large files
    * (here: one parquet file = ONE task); at 100-TB scale inputs already
    * have ≫cores partitions and this is a no-op — the check costs no job.
    */
  private def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Doc → (id, words[]) with the regex split MATERIALIZED as its own
    * projection: referencing `split(...)` from inside a `transform` lambda
    * defeats common-subexpression elimination and re-splits the text once
    * PER SHINGLE (measured 8× on the postings scan).
    */
  private def docWords(df: DataFrame, idCol: String, textCol: String) =
    fanOut(df).select(col(idCol).as("id"),
      split(lower(trim(col(textCol))), "\\s+").as("ws"))

  private def shingleArr(n: Int) = TextOps.shingleArrOf(col("ws"), n)

  /** Doc → exploded distinct shingles (the inverted-index postings),
    * tokenized to 60-bit hashes at the boundary: every downstream
    * shuffle/sort/join/intersect moves 8-byte longs instead of ~25-byte
    * strings. `shingle`/`h2` are the h60/h52 of one md5 per posting —
    * `shingle` is the index token, (shingle, h2) seeds the minhash
    * double-hash family. A 2^-60 collision would merge two shingles — and
    * the DuckDB oracles intersect the TRUE strings, so a real collision
    * fails the correctness gate loudly instead of hiding.
    *
    * Deliberately does NOT carry the per-doc shingle count: a column that
    * references the shingle array alongside `explode` makes the optimizer
    * compute the whole array twice per row (measured 7× on this stage) —
    * consumers broadcast-join [[shingleCounts]] instead.
    */
  private def postings(df: DataFrame, idCol: String, textCol: String, n: Int) =
    docWords(df, idCol, textCol)
      .select(col("id"), explode(array_distinct(shingleArr(n))).as("s"))
      .withColumn("_md5", md5(col("s")))
      .select(col("id"),
        conv(substring(col("_md5"), 1, 15), 16, 10).cast("long").as("shingle"),
        conv(substring(col("_md5"), 16, 13), 16, 10).cast("long").as("h2"))

  /** Doc → distinct-shingle count (tiny: one row per doc; broadcast side). */
  private def shingleCounts(df: DataFrame, idCol: String, textCol: String, n: Int) =
    docWords(df, idCol, textCol)
      .select(col("id"), size(array_distinct(shingleArr(n))).as("n_sh"))

  /** Shingle sets REBUILT from already-computed postings (one collect_list
    * aggregation of cached 8-byte tokens) instead of a fresh
    * split/shingle/md5 pass over the corpus text. verifyJaccard joins the
    * sets twice (id_a and id_b side), so the old `shingleSets` helper (a
    * docWords→array_distinct→h60 projection, removed r6) re-ran the whole
    * CPU-heavy shingle stage TWICE per query (r6 plans: two identical
    * Scan→split→transform(md5) subtrees under the verify join); this runs
    * it zero times. Same elements per doc (postings are per-doc distinct
    * h60 tokens); array order differs, which array_intersect ignores —
    * jaccard values are identical. Eager localCheckpoint: the caller
    * unpersists the postings cache before the verify join executes.
    */
  private def setsFromPostings(p: DataFrame): DataFrame =
    // SORTED sets: verifyJaccard's merge-scan intersect kernel requires
    // ascending duplicate-free arrays (postings are per-doc distinct)
    p.groupBy("id").agg(sort_array(collect_list(col("shingle"))).as("sh"))
      .localCheckpoint()

  /** Verify candidate (id_a, id_b) pairs with the TRUE Jaccard: join each
    * side to its shingle set, intersect, threshold. Cost is O(candidates),
    * never O(corpus²) — shared by the prefix-filter and LSH paths.
    */
  private def verifyJaccard(cand: DataFrame, sets: DataFrame,
                            threshold: Double): DataFrame =
    // sets = one row per doc: NOT a broadcast side at corpus scale (AQE
    // broadcasts it by runtime stats when a small corpus fits). `sh` MUST
    // be sorted ascending (setsFromPostings) for the intersect kernel.
    cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("n_a", size(col("sh_a")))
      .withColumn("n_b", size(col("sh_b")))
      // PPJoin length filter: J ≥ t ⟹ |A∩B| ≥ t·|A∪B| ⟹ min ≥ t·max —
      // prunes size-mismatched candidates with two int compares before any
      // per-element work (1e-9 slack so IEEE t·max landing just above the
      // rational cannot drop an at-threshold pair; false KEEPS are fine,
      // the exact jaccard below re-checks)
      .filter(least(col("n_a"), col("n_b")).cast("double") >=
        lit(threshold) * greatest(col("n_a"), col("n_b")) - lit(1e-9))
      // merge-scan intersect count (VecExpr kernel): same integer as
      // size(array_intersect(...)) on these duplicate-free sets, without
      // the per-row hash set + materialized intersection array
      .withColumn("common", VecExpr.sortedIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", round(col("common").cast("double") /
        (col("n_a") + col("n_b") - col("common")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Exact n-gram Jaccard ≥ threshold pairs (id_a < id_b), via inverted
    * index: group postings by shingle, emit co-occurring pairs, count
    * intersections, compute |A∩B| / (|A|+|B|-|A∩B|).
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val p = postings(df, idCol, textCol, n)
    val counts = shingleCounts(df, idCol, textCol, n)
    val a = p.select(col("shingle"), col("id").as("id_a"))
    val b = p.select(col("shingle"), col("id").as("id_b"))
    a.join(b, Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("common"))
      .join(counts.select(col("id").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(counts.select(col("id").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .withColumn("jaccard",
        round(col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Prefix-filtered exact Jaccard (same output as [[jaccardPairs]], much
    * smaller candidate set): order each doc's shingles by global rarity;
    * for Jaccard ≥ t the intersection is ≥ ⌈t·|S|⌉, so each doc's first
    * |S| − ⌈t·|S|⌉ + 1 shingles (prefix-filter principle, AllPairs/PPJoin
    * family) must contain a shared one — candidates come from joining only
    * the prefixes, then are verified with the true intersection.
    *
    * The ⌈t·|S|⌉ is computed with a 1e-9 slack before ceil: in IEEE
    * arithmetic t·|S| can land just ABOVE an integer (0.8·10 →
    * 8.000000000000000444 → ceil 9), which would shrink the prefix below
    * the bound and silently drop at-threshold pairs.
    *
    * Postings feed both the document-frequency aggregate and the ranking
    * join, so they are persisted for the candidate pass only: candidates
    * are materialized eagerly (localCheckpoint — small, pairs only, blocks
    * reclaimed automatically by the ContextCleaner) and the postings cache
    * is released before the verify join runs. (A window-based df was
    * measured 2× slower: count() OVER (PARTITION BY shingle) sorts every
    * posting; the hash aggregate + shuffle join does not.)
    */
  def jaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val p = postings(df, idCol, textCol, n).persist()
    try {
      // ONE aggregation of the cached postings yields the per-doc shingle
      // set; counts and the verify join both read it, so the
      // split/shingle/md5 stage runs ONCE per query instead of three times
      // (was: postings + 2× shingleSets under the verify join — r6 plan
      // evidence in plans/r06/d2_ngram_jaccard_before.txt).
      val sets = setsFromPostings(p)
      // counts is doc-scale (one row per doc) — joined, not force-broadcast;
      // AQE broadcasts it by runtime stats when the corpus is small. Derived
      // from the checkpointed sets (size of the set IS n_sh) — no shuffle.
      val counts = sets.select(col("id"), size(col("sh")).as("n_sh"))
      val freq = p.groupBy("shingle").agg(count(lit(1)).as("df"))
      val ranked = p.join(freq, "shingle")
        .join(counts, Seq("id"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("id").orderBy(col("df"), col("shingle"))))
        .filter(col("rnk") <=
          col("n_sh") - ceil(lit(threshold) * col("n_sh") - lit(1e-9)) + lit(1))
        .select("shingle", "id")
        // eager: the prefix self-join below reads BOTH sides from this
        // materialized frame — without it each side re-runs the
        // freq-join + rarity window from the postings cache (2× the
        // candidate-stage work; Spark plans common subtrees twice)
        .localCheckpoint()
      val a = ranked.select(col("shingle"), col("id").as("id_a"))
      val b = ranked.select(col("shingle"), col("id").as("id_b"))
      val cand = a.join(b, Seq("shingle"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
        .localCheckpoint() // eager: postings no longer needed downstream
      verifyJaccard(cand, sets, threshold)
    } finally p.unpersist()
  }

  /** MinHash signature column: array of `numHashes` minima of the
    * double-hash family g_i(s) = h60(s) + i·h52(s) (Kirsch–Mitzenmacher).
    * One md5 per posting, `numHashes` derived values — and the whole
    * family is reproducible in the DuckDB oracle.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, numHashes: Int = 32): DataFrame = {
    require(numHashes <= 32, "double-hash family bounded to 32 (overflow margin)")
    // postings already carry (h60, h52) of the per-posting md5
    val p = postings(df, idCol, textCol, n)
    val mins = (0 until numHashes).map(i =>
      min(col("shingle") + lit(i.toLong) * col("h2")).as(s"h$i"))
    p.groupBy(col("id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** MinHash + banded LSH near-dup pairs: bands × rowsPerBand = numHashes;
    * a pair is a candidate iff any band's sub-signature matches (bucket
    * equi-join on the sub-signature array — no cross product, no hash
    * post-processing), and ONLY candidates are verified with the exact
    * Jaccard via their shingle sets. Work is O(postings) + O(candidates).
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, numHashes: Int = 32, bands: Int = 8,
                      threshold: Double = 0.8): DataFrame = {
    require(numHashes <= 32, "double-hash family bounded to 32 (overflow margin)")
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // One postings pass feeds signatures AND the verify-phase shingle sets
    // (was: the banded self-join recomputed the postings→signature pipeline
    // once PER SIDE, and verifyJaccard re-ran the split/shingle/md5 stage
    // twice more via shingleSets — five shingle passes per query; now one).
    val p = postings(df, idCol, textCol, n).persist()
    try {
      // ONE aggregation of the postings yields BOTH the per-doc sorted
      // shingle set (verify side) and the minhash minima (same derivation
      // as minhashSignatures) — two separate groupBy("id") passes would
      // re-aggregate the same cached rows twice.
      val mins = (0 until numHashes).map(i =>
        min(col("shingle") + lit(i.toLong) * col("h2")).as(s"h$i"))
      val byDoc = p.groupBy(col("id"))
        .agg(sort_array(collect_list(col("shingle"))).as("sh"),
          mins: _*)
        .localCheckpoint()
      val sets = byDoc.select(col("id"), col("sh"))
      val sig = byDoc.select(col("id"),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
      val banded = sig.select(col("id"), explode(
        array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            slice(col("sig"), b * rows + 1, rows).as("bucket"))): _*)).as("bb"))
        .select(col("id"), col("bb.band"), col("bb.bucket"))
        // eager: both self-join sides read the materialized banding
        .localCheckpoint()
      val cand = banded.as("x").join(banded.as("y"), Seq("band", "bucket"))
        .filter(col("x.id") < col("y.id"))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
        .localCheckpoint() // eager: postings no longer needed downstream
      verifyJaccard(cand, sets, threshold)
    } finally p.unpersist()
  }

  /** 60-bit SimHash per doc: sign-sum of token-hash bits weighted by term
    * frequency, computed as 60 conditional sums in one aggregation pass.
    * (60 bits, not 64: the hash is md5-hex-derived so the DuckDB oracle
    * reproduces it exactly; Hamming discrimination is unaffected.)
    */
  val SimhashBits = 60

  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokens = fanOut(df).select(col(idCol).as("id"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("tok"))
      .groupBy("id", "tok").agg(count(lit(1)).as("w"))
      .withColumn("th", h60(col("tok")))
    val bitSums = (0 until SimhashBits).map { b =>
      sum(when(shiftright(col("th"), b).bitwiseAND(lit(1L)) === 1L, col("w"))
        .otherwise(-col("w"))).as(s"b$b")
    }
    val agg = tokens.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val sh = (0 until SimhashBits).map(b =>
        when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce((x, y) => x.bitwiseOR(y))
    agg.select(col("id"), sh.as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist. Blocking: two
    * docs within Hamming k of each other share at least one of k+1 equal
    * 60/(k+1)-bit chunks (pigeonhole) — join on chunks, then verify with
    * bit_count(xor).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3): DataFrame = {
    val chunks = maxDist + 1
    require(SimhashBits % chunks == 0, s"maxDist+1 must divide $SimhashBits")
    val width = SimhashBits / chunks
    // eager localCheckpoint: the chunk self-join below otherwise re-runs
    // the whole tokenize + 60-bit-sum simhash aggregation once PER SIDE
    // (Spark plans common subtrees twice — same r6 fix as d2/d3)
    val sh = simhash(df, idCol, textCol).localCheckpoint()
    val blocked = sh.select(col("id"), col("simhash"), explode(
      array((0 until chunks).map(c => struct(lit(c).as("c"),
        shiftrightunsigned(col("simhash"), c * width)
          .bitwiseAND(lit((1L << width) - 1)).as("chunk"))): _*)).as("bc"))
      .select(col("id"), col("simhash"), col("bc.c"), col("bc.chunk"))
    blocked.as("x").join(blocked.as("y"), Seq("c", "chunk"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Benchmark decontamination: flag corpus docs sharing ≥1 word n-gram
    * with any benchmark/eval doc — the standard pretraining hygiene pass
    * (eval answers leaking into training data inflate benchmark scores).
    *
    * Output: (doc_id, n_shared, n_sh, overlap_frac) for contaminated
    * NON-benchmark docs only. Shape: corpus postings LEFT ⋈ distinct
    * benchmark n-grams — the benchmark side is eval-suite-sized (tiny vs
    * corpus) so AQE broadcasts it and the corpus side never shuffles; ONE
    * shingle pass feeds one hash-aggregate producing both the per-doc
    * total and matched posting counts (a separate shingleCounts join would
    * shingle the whole corpus a second time just to annotate the rare
    * hits). N-grams are compared as 60-bit md5 tokens (8-byte join keys);
    * the DuckDB oracle intersects the true strings, so a 2^-60 collision
    * fails the gate loudly instead of hiding.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int = 5): DataFrame = {
    val contaminated = postings(benchmark, idCol, textCol, n)
      .select("shingle").distinct()
    // Aggregate MATCHED postings only (inner join against the broadcast
    // benchmark n-grams drops non-hits before any exchange): the groupBy
    // shuffles O(hits) rows, not the whole corpus' postings — contamination
    // is rare by construction, so this is metadata-scale. (The previous
    // left-join shape hash-aggregated every corpus posting just to carry
    // the per-doc total; r6 re-shape per guide §2.3 "aggregate less".)
    val matched = postings(corpus, idCol, textCol, n)
      .join(contaminated, Seq("shingle"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shared")) // postings are per-doc distinct
    // per-doc totals from a NARROW second text pass (split/shingle/size —
    // no md5, no explode, no shuffle); the matched side is tiny, so AQE
    // broadcasts it and contaminated rows are annotated without moving the
    // corpus at all. n_sh values are identical to the old per-posting
    // count (postings carry exactly the distinct shingles counted here).
    shingleCounts(corpus, idCol, textCol, n)
      .join(matched, Seq("id"))
      .select(col("id").as(idCol), col("n_shared"),
        col("n_sh").cast("long").as("n_sh"))
      .withColumn("overlap_frac",
        round(col("n_shared").cast("double") / col("n_sh"), 6))
  }

  /** Connected components over near-dup pairs → duplicate groups with a
    * canonical survivor: (doc_id, group_id = min id in the component).
    * Only docs that appear in ≥1 pair are emitted (singletons are their
    * own trivial group and would dominate the output at corpus scale).
    *
    * Min-label propagation with pointer jumping: each round a node takes
    * min(own label, neighbors' labels, label-of-its-label). The neighbor
    * step moves labels one hop; the pointer jump halves the remaining
    * label-chain depth — O(log diameter) rounds total, each round two
    * equi-join shuffles. Dedup components are near-cliques (diameter ~1-2),
    * so this typically converges in 2-3 rounds; the jump keeps degenerate
    * chains cheap too. Labels are localCheckpoint-ed per round to cut
    * lineage growth; convergence is detected exactly (no label changed).
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b", maxIter: Int = 50): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct().persist()
    try {
      var labels = edges.select(col("src").as("node"))
        .distinct().withColumn("label", col("node"))
        .localCheckpoint()
      var converged = false
      var iter = 0
      while (!converged && iter < maxIter) {
        val neighborMin = edges
          .join(labels, edges("src") === labels("node"))
          .groupBy(col("dst").as("node2")).agg(min("label").as("nmin"))
        val jump = labels.select(col("node").as("pnode"), col("label").as("plabel"))
        val next = labels
          .join(neighborMin, col("node") === col("node2"), "left").drop("node2")
          .join(jump, col("label") === col("pnode"), "left").drop("pnode")
          .select(col("node"),
            least(col("label"),
              coalesce(col("nmin"), col("label")),
              coalesce(col("plabel"), col("label"))).as("label"),
            col("label").as("old"))
          .localCheckpoint()
        converged = next.filter(col("label") < col("old")).isEmpty
        labels = next.drop("old")
        iter += 1
      }
      // unconverged labels are WRONG labels (a component still split across
      // group_ids) — surviving silently would leak duplicates downstream
      if (!converged) throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter iterations — " +
          "the label-jump contraction halves long chains each round, so " +
          "raise maxIter (components of diameter d need ~log2(d) rounds)")
      labels.select(col("node").as("doc_id"), col("label").as("group_id"))
    } finally edges.unpersist()
  }
}
