package graft

import graft.ops.{DedupOps, MultimodalOps, SimilarityOps, TextOps}
import org.apache.spark.sql.functions._

/** In-JVM oracles for the operators whose semantics DuckDB SQL can't
  * mirror (LSH internals, heuristic scores, stubbed multimodal kernel).
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet").cache()
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet").cache()

  test("minhash-LSH pairs are a subset of exact jaccard pairs, with recall ≥ 0.7") {
    val exact = DedupOps.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = DedupOps.minhashLshPairs(docs, "doc_id", "text",
        n = 3, numHashes = 32, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "LSH+verify must never emit a false positive")
    if (exact.nonEmpty)
      assert(lsh.size.toDouble / exact.size >= 0.7,
        s"LSH recall ${lsh.size}/${exact.size} < 0.7")
  }

  test("prefix-filtered jaccard ≡ inverted-index jaccard (exact same pairs)") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val full = pairs(DedupOps.jaccardPairs(docs, "doc_id", "text", 3, 0.4))
    val pref = pairs(DedupOps.jaccardPairsPrefix(docs, "doc_id", "text", 3, 0.4))
    assert(full === pref)
    assert(full.nonEmpty)
  }

  test("prefix bound survives IEEE-integral thresholds (t=0.8, at-threshold pair)") {
    // Pair sitting EXACTLY at the threshold: |A|=|B|=9 word-shingles
    // (n=1 ⇒ shingles = words), |A∩B|=8 ⇒ jaccard = 8/10 = 0.8. The prefix
    // bound |S|−⌈t·|S|⌉+1 must keep this pair; IEEE products like
    // 0.8·10 = 8.000…0004 (ceil 9) or (1−0.8)·10 = 1.999…6 (floor 1)
    // both shrink the prefix below the bound if computed naively.
    val a = (1 to 9).map(i => s"w$i").mkString(" ")            // w1..w9
    val b = ((1 to 8).map(i => s"w$i") :+ "z9").mkString(" ")  // w1..w8 z9
    val adv = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val full = DedupOps.jaccardPairs(adv, "doc_id", "text", n = 1, threshold = 0.8)
      .as[(Long, Long, Double)].collect().toSet
    val pref = DedupOps.jaccardPairsPrefix(adv, "doc_id", "text", n = 1, threshold = 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(full === Set((1L, 2L, 0.8)), s"fixture must sit exactly at threshold: $full")
    assert(pref === full, "prefix filter dropped an at-threshold pair")
    // and corpus-level equivalence at t=0.8 too
    val cf = DedupOps.jaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val cp = DedupOps.jaccardPairsPrefix(docs, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cf === cp)
  }

  test("connected components match an in-JVM union-find oracle") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (22L, 1L))
      .toDF("id_a", "id_b")
    val got = DedupOps.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    // union-find oracle
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r } }
    def union(a: Long, b: Long): Unit = { val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    Seq((1L,2L),(2L,3L),(10L,11L),(20L,21L),(21L,22L),(22L,1L)).foreach((union _).tupled)
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L, 22L)
    val expected = nodes.map(n => n -> find(n)).toMap
    assert(got === expected)
    // {1,2,3,20,21,22} fold into group 1; {10,11} into group 10
    assert(got(22L) === 1L && got(10L) === 10L)
  }

  test("connected components on a long chain converge (diameter > 1 round)") {
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = DedupOps.connectedComponents(chain, maxIter = 64)
      .as[(Long, Long)].collect().toMap
    assert(got.size === 40 && got.values.forall(_ == 1L))
  }

  test("lshTopK derives the embedding dim from data (non-64-dim fixture)") {
    // 16-dim clustered fixture: two tight clusters; neighbors of a query
    // must come from its own cluster
    val rnd = new scala.util.Random(7)
    def vec(center: Double) = Array.fill(16)((center + rnd.nextGaussian() * 0.05).toFloat)
    val rows = (0L until 30L).map(i => (i, vec(if (i < 15) 1.0 else -1.0)))
    val df = rows.toDF("vec_id", "embedding")
    val bf = SimilarityOps.bruteForceTopK(df, df.filter($"vec_id" === 0L),
      "vec_id", "embedding", k = 5).select("neighbor_id").as[Long].collect().toSet
    val lsh = SimilarityOps.lshTopK(df, df.filter($"vec_id" === 0L),
      "vec_id", "embedding", k = 5, bits = 4, tables = 8)
      .select("neighbor_id").as[Long].collect().toSet
    assert(bf.forall(_ < 15), "brute-force neighbors in-cluster")
    assert((bf intersect lsh).size >= 3, s"16-dim LSH recall too low: $lsh vs $bf")
  }

  test("bucketed cosineNearDupPairs ≡ exact product on the fixture (full recall)") {
    val exact = SimilarityOps.cosineNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.5, exact = true)
      .as[(Long, Long, Double)].collect().toSet
    val bucketed = SimilarityOps.cosineNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.5, exact = false, bits = 4, tables = 32)
      .as[(Long, Long, Double)].collect().toSet
    assert(bucketed.subsetOf(exact), "verify step must kill false positives")
    assert(bucketed === exact, s"bucketed path missed pairs: ${exact diff bucketed}")
  }

  test("tree flatten: nested JSON round-trips to the exact node multiset") {
    import graft.ops.TreeOps
    val json = Seq(
      """{"name":"r1","children":[{"name":"c1","children":[{"name":"g1"},{"name":"g2"}]},{"name":"c2","children":[]}]}""",
      """{"name":"r2","children":[]}""",
      "not json at all"
    ).toDF("json")
    val got = TreeOps.flattenTree(json, "json", maxDepth = 3)
      .as[(Long, String, Option[String])].collect().toSet
    val expected = Set(
      (0L, "r1", None), (0L, "r2", None),
      (1L, "c1", Some("r1")), (1L, "c2", Some("r1")),
      (2L, "g1", Some("c1")), (2L, "g2", Some("c1")))
    assert(got === expected)
  }

  test("approx_count_distinct within 5% of exact on lineitem") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    // default rsd=0.05 means ~5% σ — ask for 2% to assert a 5% bound
    val r = li.agg(
      approx_count_distinct(col("l_orderkey"), 0.02).as("a"),
      countDistinct("l_orderkey").as("e")).as[(Long, Long)].head()
    assert(math.abs(r._1 - r._2).toDouble / r._2 <= 0.05, s"approx ${r._1} vs exact ${r._2}")
  }

  test("simhash: identical texts collide; near-identical texts are close") {
    val base = docs.limit(20).select($"doc_id", $"text")
    // clones with ids offset by 10000 — identical text ⇒ identical simhash
    val clones = base.select(($"doc_id" + 10000).as("doc_id"), $"text")
    val both = base.union(clones)
    val sh = DedupOps.simhash(both, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    (0 until 20).foreach { _ => }
    sh.keys.filter(_ < 10000).foreach { id =>
      assert(sh(id) === sh(id + 10000), s"clone of $id must collide")
    }
    // and the pair finder reports them at distance 0
    val pairs = DedupOps.simhashPairs(both, "doc_id", "text", maxDist = 0)
      .as[(Long, Long, Long)].collect()
    val clonePairs = pairs.filter(p => p._2 - p._1 == 10000).map(_._1).toSet
    assert(sh.keys.filter(_ < 10000).forall(clonePairs.contains), "all clone pairs found")
  }

  test("LSH ANN recall vs brute force ≥ 0.5 at k=5 (and exact rerank ⇒ no false cos)") {
    val queries = emb.filter($"vec_id" < 20)
    val bf = SimilarityOps.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // these fixture embeddings are near-uniform (top-1 cos ≈ 0.37), the
    // hardest LSH regime — use short signatures × many tables
    val lsh = SimilarityOps.lshTopK(emb, queries, "vec_id", "embedding", k = 5,
        bits = 4, tables = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (bf intersect lsh).size.toDouble / bf.size
    assert(recall >= 0.5, s"ANN recall $recall < 0.5")
  }

  test("IVF ANN recall vs brute force ≥ 0.6 at k=5, nProbe=3/8 cells") {
    val queries = emb.filter($"vec_id" < 20)
    val bf = SimilarityOps.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = SimilarityOps.ivfTopK(emb, queries, "vec_id", "embedding",
        k = 5, nLists = 8, nProbe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (bf intersect ivf).size.toDouble / bf.size
    assert(recall >= 0.6, s"IVF recall $recall < 0.6")
    // determinism: same seed → same result
    val again = SimilarityOps.ivfTopK(emb, queries, "vec_id", "embedding",
        k = 5, nLists = 8, nProbe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf === again)
  }

  test("langId picks the profile language on natural text; und on noise") {
    val samples = Seq(
      ("the cat sat on the mat and it is a good day for the dog", "en"),
      ("el perro y el gato en la casa de los abuelos por la tarde", "es"),
      ("le chat et le chien dans la maison des grands parents", "fr"),
      ("der hund und die katze sind mit den kindern zu hause", "de"),
      ("qqq zzz xxx www", "und")
    ).toDF("text", "expected")
    val got = samples.withColumn("pred", TextOps.langId($"text"))
      .select("expected", "pred").as[(String, String)].collect()
    got.foreach { case (exp, pred) => assert(pred === exp) }
  }

  test("quality score is in [0,1] and penalizes degenerate text") {
    val scored = docs.select(TextOps.qualityScore($"text").as("q"))
      .agg(min($"q"), max($"q")).as[(Double, Double)].head()
    assert(scored._1 >= 0.0 && scored._2 <= 1.0)
    val degenerate = Seq("x x x x x x x x x x x x x x x x x x x x").toDF("text")
      .select(TextOps.qualityScore($"text")).as[Double].head()
    val healthy = Seq("the quick brown fox jumps over the lazy dog near the river bank today")
      .toDF("text").select(TextOps.qualityScore($"text")).as[Double].head()
    assert(degenerate < healthy, s"degenerate $degenerate !< healthy $healthy")
  }

  test("multimodal pipeline: one feature row per input, real sha256, stub dims stable") {
    val feats = MultimodalOps.pipeline(docs, "doc_id", "text").cache()
    assert(feats.count() === docs.count())
    // checksum is the REAL part of the kernel: must equal sha2 of the bytes
    val joined = feats.join(docs, feats("media_id") === docs("doc_id"))
      .select(($"checksum" === sha2(encode($"text", "UTF-8"), 256)).as("ok"))
      .agg(sum(when($"ok", 0).otherwise(1))).as[Long].head()
    assert(joined === 0L, "every checksum must match sha256(payload)")
    // deterministic stub: same input twice ⇒ same features
    val again = MultimodalOps.pipeline(docs, "doc_id", "text")
    assert(feats.except(again).count() === 0L)
  }

  test("groupBy-collect struct build (SURVEY A9): per-key ordered struct lists") {
    val events = spark.read.parquet(s"$sf/events.parquet")
    val built = events.groupBy($"user_id")
      .agg(sort_array(collect_list(struct($"event_id", $"event_type"))).as("evs"))
    val row = built.filter($"user_id" === 0L)
      .select(size($"evs")).as[Int].head()
    val expected = events.filter($"user_id" === 0L).count().toInt
    assert(row === expected, "collect_list holds every event of the key")
    // arrays are sorted by event_id (struct ordering) → deterministic
    val ids = built.filter($"user_id" === 0L)
      .select($"evs.event_id").as[Seq[Long]].head()
    assert(ids === ids.sorted)
  }

  test("token counts: subwordCount ≥ tokenCount; fingerprint invariant to case/space") {
    val r = docs.select(
      (TextOps.subwordCount($"text") >= TextOps.tokenCount($"text")).as("ge"))
      .agg(sum(when($"ge", 0).otherwise(1))).as[Long].head()
    assert(r === 0L)
    val fp = Seq(("Hello  World", "hello world"), ("A  B\tC", "a b c"))
      .toDF("a", "b")
      .select((TextOps.fingerprint($"a") === TextOps.fingerprint($"b")).as("eq"))
      .as[Boolean].collect()
    assert(fp.forall(identity))
  }

  test("KMV sketch: ≤10% error at k=256, exact below k, partition-invariant") {
    import graft.ops.KmvAgg
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    def hashed(df: org.apache.spark.sql.DataFrame) = df.select(col("l_returnflag"),
      conv(substring(md5(col("l_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long").as("h"))
    val exact = li.groupBy("l_returnflag").agg(countDistinct("l_orderkey").as("n"))
      .as[(String, Long)].collect().toMap
    val est = hashed(li).groupBy("l_returnflag")
      .agg(KmvAgg.kmvDistinct(col("h"), 256).as("e")).as[(String, Long)].collect().toMap
    exact.foreach { case (flag, n) =>
      val e = est(flag)
      if (n < 256) assert(e === n, s"below k must be exact: $flag")
      else assert(math.abs(e - n).toDouble / n <= 0.10, s"$flag: est $e vs exact $n")
    }
    // merge-order / partitioning invariance (deterministic by construction)
    val est3 = hashed(li.repartition(3)).groupBy("l_returnflag")
      .agg(KmvAgg.kmvDistinct(col("h"), 256).as("e")).as[(String, Long)].collect().toMap
    val est64 = hashed(li.repartition(64)).groupBy("l_returnflag")
      .agg(KmvAgg.kmvDistinct(col("h"), 256).as("e")).as[(String, Long)].collect().toMap
    assert(est3 === est && est64 === est)
    // plans as ObjectHashAggregate like LwwAgg (map-side combinable)
    val plan = hashed(li).groupBy("l_returnflag")
      .agg(KmvAgg.kmvDistinct(col("h"), 256)).queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
  }

  test("kmv_distinct fails loudly on out-of-range hashes (xxhash64 misuse)") {
    // xxhash64 passes the BIGINT type check but is full-range 64-bit —
    // negative kth-mins made the estimator return silently absurd counts;
    // the range guard turns that into a curated error
    import graft.ops.KmvAgg
    val e = intercept[Exception] {
      (1L to 100L).toDF("v").select(xxhash64(col("v")).as("h"))
        .agg(KmvAgg.kmvDistinct(col("h"), 16)).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => Option(c.getMessage).exists(_.contains("2^60"))),
      s"want the range-guard error, got: ${e.getMessage}")
    // boundary exactness: 2^60−1 is IN range and must be accepted — its
    // Double image rounds up to exactly 2^60 (ulp 128 at that magnitude),
    // so a double-typed guard wrongly rejected the top 64 legal values
    val top = (1L << 60) - 1L
    val est = Seq(top, top - 1L).toDF("h")
      .agg(KmvAgg.kmvDistinct(col("h"), 16)).head.getLong(0)
    assert(est === 2L, s"2^60−1 must be accepted and counted exactly, got $est")
    val e2 = intercept[Exception] {
      Seq(1L << 60).toDF("h").agg(KmvAgg.kmvDistinct(col("h"), 16)).collect()
    }
    assert(causes(e2).exists(c => Option(c.getMessage).exists(_.contains("2^60"))),
      s"2^60 itself is out of range: ${e2.getMessage}")
  }

  test("hyperplane signature: content equality for plan reuse; ragged matrix rejected") {
    import graft.ops.HyperplaneSig
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val c = Literal.create(null, ArrayType(DoubleType))
    val m1 = Array(Array(1.0, 2.0), Array(3.0, 4.0))
    val m2 = Array(Array(1.0, 2.0), Array(3.0, 4.0)) // equal content, distinct arrays
    // Array fields default to reference equality, which silently defeats
    // CSE / exchange reuse / cached-plan matching on re-built plans
    assert(HyperplaneSig(c, m1) === HyperplaneSig(c, m2))
    assert(HyperplaneSig(c, m1).semanticEquals(HyperplaneSig(c, m2)))
    assert(HyperplaneSig(c, m1).hashCode === HyperplaneSig(c, m2).hashCode)
    assert(HyperplaneSig(c, m1) !== HyperplaneSig(c, Array(Array(1.0, 2.0), Array(3.0, 5.0))))
    // a ragged matrix would AIOOBE inside generated code — reject at build
    intercept[IllegalArgumentException] {
      HyperplaneSig(c, Array(Array(1.0, 2.0), Array(3.0)))
    }
  }

  test("chunkByTokens: windows bounded, overlap honored, lossless coverage, shuffle-free") {
    import graft.ops.ChunkOps
    val docs = Seq(
      (1L, (1 to 75).map(i => s"w$i").mkString(" ")), // 3 windows at stride 24
      (2L, "a b c"),                                  // shorter than one window
      (3L, "")                                        // degenerate: one empty-token window
    ).toDF("doc_id", "text")
    val out = ChunkOps.chunkByTokens(docs, "doc_id", "text", maxTokens = 32, overlap = 8)
      .as[(Long, Long, String, Long)].collect().sortBy(r => (r._1, r._2))
    // every window ≤ maxTokens and chunk_ids are dense from 0
    out.groupBy(_._1).foreach { case (_, cs) =>
      assert(cs.map(_._2).toSeq === cs.indices.map(_.toLong))
      cs.foreach(c => assert(c._4 <= 32 && c._4 === c._3.split(" ", -1).length.toLong))
    }
    val d1 = out.filter(_._1 == 1L)
    // starts 0, 24, 48: window@48 reaches the end (tokens 49-75), so no
    // start-72 window is emitted — it would be fully contained in it
    assert(d1.length === 3)
    assert(d1.last._4 === 27L)
    // no window's token span is contained in the previous window's span
    d1.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 * 24 + b._4 > a._2 * 24 + a._4,
        s"window ${b._2} adds no new tokens over ${a._2}")
    }
    // overlap: each window's leading tokens == the previous window's
    // tokens from the stride point (8 for full windows; fewer when the
    // final window is clipped by the document end)
    d1.sliding(2).foreach { case Array(a, b) =>
      assert(b._3.split(" ").take(8).toSeq === a._3.split(" ").drop(24).take(8).toSeq)
    }
    // lossless: dropping each non-first window's 8-token overlap and
    // concatenating reconstructs the document exactly
    val rebuilt = d1.zipWithIndex.flatMap { case (c, i) =>
      val ts = c._3.split(" ").toSeq; if (i == 0) ts else ts.drop(8)
    }
    assert(rebuilt === (1 to 75).map(i => s"w$i"))
    assert(out.filter(_._1 == 2L).map(_._3).toSeq === Seq("a b c"))
    // no shuffle: chunking must plan without any Exchange
    val plan = ChunkOps.chunkByTokens(docs, "doc_id", "text", 32, 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking must be shuffle-free:\n$plan")
  }

  test("packByTokens: contiguous greedy packs, overflow only by the closing doc") {
    import graft.ops.ChunkOps
    val docs = (for (g <- Seq("en", "de"); i <- 1 to 40) yield
      (g, (g.hashCode.abs % 7) * 100L + i, (1 to (i * 7 % 60 + 5)).map(_ => "t").mkString(" ")))
      .toDF("lang", "doc_id", "text")
    val out = ChunkOps.packByTokens(docs, "doc_id", "text", "lang", targetTokens = 100L)
      .as[(String, Long, Long, Long, Long)].collect()
    out.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      // offsets are the exclusive prefix sum of n_tokens in doc_id order
      var acc = 0L
      sorted.foreach { r => assert(r._4 === acc, s"offset mismatch at $r"); acc += r._3 }
      // pack ids are non-decreasing (contiguous packs) and = offset/target
      sorted.foreach(r => assert(r._5 === r._4 / 100L))
      assert(sorted.map(_._5).toSeq === sorted.map(_._5).sorted.toSeq)
      // every pack except possibly the last spans ≥ target tokens INCLUDING
      // its closing (overflowing) document
      val byPack = sorted.groupBy(_._5).toSeq.sortBy(_._1)
      byPack.dropRight(1).foreach { case (p, ds) =>
        assert(ds.map(_._3).sum + ds.head._4 - p * 100L >= 0)
        val end = ds.last._4 + ds.last._3
        assert(end >= (p + 1) * 100L, s"pack $p closed before reaching the target")
      }
    }
  }

  test("zero-norm embeddings score cos = 0 — never NaN-topping every ranking") {
    import graft.ops.SimilarityOps
    // a failed-embedding artifact: NaN (0/0) compares LARGER than any
    // double in Spark, so without the guard the zero vector passes every
    // threshold and ranks first for every query
    val rows = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 0.0f))) // zero-norm
      .toDF("doc_id", "emb")
    val top = SimilarityOps.bruteForceTopK(rows, rows.filter($"doc_id" === 1L),
        "doc_id", "emb", k = 2)
      .as[(Long, Int, Long, Double)].collect().sortBy(_._2)
    assert(top.head._3 === 2L, s"real neighbor must outrank the zero vector: ${top.toSeq}")
    assert(top.forall(r => !r._4.isNaN), s"no NaN cos may surface: ${top.toSeq}")
    assert(top.find(_._3 == 3L).forall(_._4 === 0.0))
    val pairs = SimilarityOps.cosineNearDupPairs(rows, "doc_id", "emb",
      threshold = 0.9, exact = true).as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((1L, 2L)),
      s"zero-norm pairs must not pass the threshold: ${pairs.toSeq}")
  }

  test("packByTokens output is deterministic under duplicate ids and repartition") {
    import graft.ops.ChunkOps
    // duplicate doc_id with different token counts: the (id, n_tokens)
    // sort key pins the running offsets; id-only ordering left them to
    // partition luck
    val docs = Seq(
      ("en", "dup", (1 to 100).map(_ => "t").mkString(" ")),
      ("en", "dup", (1 to 900).map(_ => "t").mkString(" ")),
      ("en", "zzz", "t t t")).toDF("lang", "doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      ChunkOps.packByTokens(df, "doc_id", "text", "lang", targetTokens = 500L)
        .as[(String, String, Long, Long, Long)].collect().sortBy(r => (r._2, r._3))
    val a = run(docs.repartition(1))
    val b = run(docs.repartition(7))
    assert(a.toSeq === b.toSeq, "output must not depend on partitioning")
    // the 100-token dup sorts first: offsets 0, 100, 1000
    assert(a.map(r => (r._3, r._4, r._5)).toSeq ===
      Seq((100L, 0L, 0L), (900L, 100L, 0L), (3L, 1000L, 2L)))
  }

  test("quality score penalizes over-long documents (upper length band live)") {
    val inBand = Seq(((1 to 50).map(i => s"w$i").mkString(" "))).toDF("text")
      .select(TextOps.qualityScore($"text")).as[Double].head()
    val overLong = Seq(((1 to 200001).map(i => s"w${i % 97}").mkString(" "))).toDF("text")
      .select(TextOps.qualityScore($"text")).as[Double].head()
    assert(overLong < inBand,
      s"a 200k-word doc must score below an in-band doc: $overLong !< $inBand")
  }

  test("asofJoin: latest at-or-before right row per left row, exactly once, tie-deterministic") {
    import graft.ops.JoinOps
    val left = Seq(
      (1L, 5L, "l-early"),   // before any right row → null payload
      (1L, 10L, "l-eq"),     // ties a right ts → <= includes it
      (1L, 25L, "l-mid"),    // between right rows → earlier one
      (1L, 40L, "l-late"),   // after all → latest
      (2L, 100L, "l-k2"),    // other key: its own timeline
      (3L, 7L, "l-k3")       // key with NO right rows at all
    ).toDF("k", "ts", "tag")
    val right = Seq(
      (1L, 10L, "r10"), (1L, 30L, "r30"), (2L, 90L, "r90")
    ).toDF("k", "ts", "v")
    def run(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame) =
      JoinOps.asofJoin(l, r, Seq("k"), "ts", Seq("v"))
        .select("k", "ts", "tag", "v")
        .as[(Long, Long, String, Option[String])].collect().sortBy(r => (r._1, r._2))
    val out = run(left, right)
    assert(out.toSeq === Seq(
      (1L, 5L, "l-early", None), (1L, 10L, "l-eq", Some("r10")),
      (1L, 25L, "l-mid", Some("r10")), (1L, 40L, "l-late", Some("r30")),
      (2L, 100L, "l-k2", Some("r90")), (3L, 7L, "l-k3", None)))
    // exactly one output row per left row — asof never duplicates or drops
    assert(out.length === 6)
    // equal-(key, ts) right rows: the largest payload struct wins,
    // independent of partitioning
    val tied = Seq((1L, 10L, "rA"), (1L, 10L, "rZ")).toDF("k", "ts", "v")
    val probe = Seq((1L, 11L, "l")).toDF("k", "ts", "tag")
    assert(run(probe.repartition(1), tied.repartition(1)).head._4 === Some("rZ"))
    assert(run(probe.repartition(5), tied.repartition(3)).head._4 === Some("rZ"))
  }

  test("rangeJoin: inclusive bounds, multi-bin spans match once, negative domain bins correctly") {
    import graft.ops.JoinOps
    val intervals = Seq(
      (1L, 100L, 0L, 50L),    // spans 6 bins at width 10
      (1L, 200L, 45L, 55L),   // overlaps the first → a point can hit both
      (1L, 300L, 70L, 60L),   // hi < lo: matches nothing
      (2L, 400L, -15L, 5L)    // crosses zero: floor (not truncate) binning
    ).toDF("k", "iid", "lo", "hi")
    val points = Seq(
      (1L, 0L, 10L), (1L, 50L, 11L),   // boundary points: both inclusive
      (1L, 48L, 12L),                   // inside both overlapping intervals
      (1L, 51L, 13L),                   // only the second
      (1L, 65L, 14L),                   // inside [60,70] — but that row is hi<lo
      (2L, -15L, 20L), (2L, -11L, 21L), // negative bin −2
      (2L, 5L, 22L), (2L, 6L, 23L)      // hi boundary in / out
    ).toDF("k", "v", "pid")
    val out = JoinOps.rangeJoin(points, intervals, Seq("k"), "v", "lo", "hi", binWidth = 10L)
      .select("pid", "iid").as[(Long, Long)].collect().sorted
    assert(out.toSeq === Seq(
      (10L, 100L), (11L, 100L), (11L, 200L), (12L, 100L), (12L, 200L),
      (13L, 200L), (20L, 400L), (21L, 400L), (22L, 400L)))
    // a pair meets in exactly one bin: no (pid, iid) duplicates even for
    // the 6-bin-span interval
    assert(out.length === out.distinct.length)
  }

  test("asofJoin: NULL join keys never match (SQL equality), null-keyed left rows still emit") {
    import graft.ops.JoinOps
    val left = Seq(
      (Option(1L), 10L, "l-keyed"),
      (Option.empty[Long], 10L, "l-null") // must emit with NULL payload
    ).toDF("k", "ts", "tag")
    val right = Seq(
      (Option(1L), 5L, "r-keyed"),
      (Option.empty[Long], 5L, "r-null") // must match NOTHING (NULL = NULL is not true)
    ).toDF("k", "ts", "v")
    val out = JoinOps.asofJoin(left, right, Seq("k"), "ts", Seq("v"))
      .select("tag", "v").as[(String, Option[String])].collect().sortBy(_._1)
    assert(out.toSeq === Seq(
      ("l-keyed", Some("r-keyed")),
      ("l-null", None)), s"got ${out.toSeq}")
  }

  test("rangeJoin: space-named value column resolves; bins stay exact past 2^53") {
    import graft.ops.JoinOps
    // both would break the old expr()-spliced floor-division: a space in
    // the column name fails to parse, and values past 2^53 lose precision
    // under DOUBLE division
    val big = 9007199254741000L // > 2^53
    val points = Seq((1L, big + 5L, 10L)).toDF("k", "event ts", "pid")
    val intervals = Seq(
      (1L, 100L, big + 3L, big + 6L),  // contains the point
      (1L, 200L, big + 6L, big + 9L)   // adjacent, does not
    ).toDF("k", "iid", "lo", "hi")
    val out = JoinOps.rangeJoin(points, intervals, Seq("k"), "event ts", "lo", "hi",
        binWidth = 7L)
      .select("pid", "iid").as[(Long, Long)].collect().toSeq
    assert(out === Seq((10L, 100L)), s"got $out")
  }

  test("heavyHitters: exact result over a long tail, partitioning-invariant, empty when nothing qualifies") {
    import graft.ops.FreqOps
    // 3 heavy items + 100-singleton tail; phi=0.05 → threshold 9.6 over
    // n=192, so exactly {a:50, b:30, c:12} qualify. 103 distinct items vs
    // ⌈1/phi⌉=20 MG counters forces the decrement path; repartitioning
    // forces real sketch merges.
    val rows = Seq.fill(50)("a") ++ Seq.fill(30)("b") ++ Seq.fill(12)("c") ++
      (0 until 100).map(i => s"x$i")
    val expected = Set(("a", 50L), ("b", 30L), ("c", 12L))
    for (parts <- Seq(1, 7)) {
      val df = rows.toDF("v").repartition(parts)
      val out = FreqOps.heavyHitters(df, "v", phi = 0.05)
        .as[(String, Long)].collect().toSet
      assert(out === expected, s"parts=$parts")
    }
    // nothing above threshold → empty, not an error
    assert(FreqOps.heavyHitters(rows.toDF("v"), "v", phi = 0.5).count() === 0L)
    // nulls count toward n but are never items
    val withNulls = (rows.map(Option(_)) ++ Seq.fill(20)(Option.empty[String])).toDF("v")
    assert(FreqOps.heavyHitters(withNulls, "v", phi = 0.05)
      .as[(String, Long)].collect().toSet === expected)
  }

  test("MG sketch candidates are a superset of true heavy items under tiny k") {
    import graft.ops.MgAgg
    // adversarial: k=3 counters, heavy item interleaved with churn
    val rows = (0 until 300).flatMap(i => Seq("hot", s"cold$i", s"cold${i}b"))
    val cand = rows.toDF("v").repartition(5)
      .agg(MgAgg.mgCandidates(col("v"), 3)).as[Seq[String]].head()
    // hot has freq 300 > n/(k+1) = 900/4 — MUST survive
    assert(cand.contains("hot"), s"MG lost the guaranteed heavy item: $cand")
    assert(cand.size <= 3)
    // output is sorted (deterministic array)
    assert(cand === cand.sorted)
  }

  test("bm25: hand-computed scores, non-matching docs absent") {
    import graft.ops.RankOps
    val docs = Seq(
      (1L, "hash join hash"),  // tf(hash)=2, dl=3
      (2L, "merge sort"),      // tf(merge)=1, dl=2
      (3L, "the quick fox")    // no query terms → absent
    ).toDF("doc_id", "text")
    val out = RankOps.bm25(docs, "doc_id", "text", "hash merge")
      .as[(Long, Double)].collect().toMap
    // mirror the engine's arithmetic exactly (N=3, sumdl=8, df=1 each)
    def score(tf: Double, dl: Double): Double = {
      val idf = math.log(1.0 + (3.0 - 1.0 + 0.5) / (1.0 + 0.5))
      val s = idf * tf * (1.2 + 1.0) /
        (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (8.0 / 3.0)))
      BigDecimal(BigDecimal(s).setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out.keySet === Set(1L, 2L))
    assert(out(1L) === score(2.0, 3.0))
    assert(out(2L) === score(1.0, 2.0))
  }

  test("KMV sketch callable from SQL via registered function") {
    import graft.ops.KmvAgg
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "kmv_distinct", exprs => graft.ops.KmvAgg(exprs(0), 16).toAggregateExpression(),
      "built-in")
    (1L to 1000L).map(i => ("g", i)).toDF("g", "v").createOrReplaceTempView("kmv_in")
    val viaSql = spark.sql(
      """SELECT g, kmv_distinct(CAST(conv(substring(md5(CAST(v AS STRING)),1,15),16,10) AS BIGINT)) AS e
        |FROM kmv_in GROUP BY g""".stripMargin).as[(String, Long)].head()
    assert(math.abs(viaSql._2 - 1000L).toDouble / 1000 <= 0.5, s"k=16 rough estimate: $viaSql")
  }

  test("property: sorted_intersect_count equals size(array_intersect) on sorted duplicate-free sets") {
    // the kernel's precondition: both sides sorted ascending, no duplicates.
    // Fixed edge cases (empty, disjoint, identical, nested) plus seeded random pairs
    val fixed = Seq(
      (Seq.empty[Long], Seq.empty[Long]), (Seq.empty[Long], Seq(1L, 2L)), (Seq(3L), Seq.empty[Long]),
      (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L)), (Seq(-5L, 0L, 7L), Seq(-5L, 0L, 7L)),
      (Seq(1L, 2L, 3L, 4L), Seq(2L, 3L)), (Seq(Long.MinValue, 0L), Seq(0L, Long.MaxValue)))
    val rnd = new scala.util.Random(4242L)
    def randomSet(): Seq[Long] = {
      val range = 1 + rnd.nextInt(60)
      Seq.fill(rnd.nextInt(25))(rnd.nextInt(range).toLong - range / 2).distinct.sorted
    }
    val pairs = fixed ++ Seq.fill(400)((randomSet(), randomSet()))
    val df = pairs.toDF("a", "b")
    val got = df.select(
      graft.ops.VecExpr.sortedIntersectCount(col("a"), col("b")),
      size(array_intersect(col("a"), col("b"))), col("a"), col("b"))
      .as[(Int, Int, Seq[Long], Seq[Long])].collect()
    assert(got.length === pairs.size)
    got.foreach { case (kernel, reference, a, b) =>
      assert(kernel === reference, s"a=$a b=$b")
      // the interpreted path agrees with the generated code
      val lit = (xs: Seq[Long]) => org.apache.spark.sql.catalyst.expressions.Literal.create(
        xs.toArray, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, false))
      assert(graft.ops.SortedIntersectCount(lit(a), lit(b)).eval() === reference, s"a=$a b=$b")
    }
    assert(got.exists(_._2 == 0) && got.exists(g => g._2 > 0 && g._2 < g._3.size))
  }
}
