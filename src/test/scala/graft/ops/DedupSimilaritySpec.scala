package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.hashing

/** Unit-level properties of the dedup / similarity operators (the value-level
  * gate is the DuckDB oracle; these pin the algorithmic invariants). */
class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different words appear in this one here"),
    (4L, "the quick brown fox jumps over the lazy dog") // exact dup of 1
  ).toDF("doc_id", "text")

  test("containment flags embedded substrings that symmetric Jaccard " +
    "misses (short doc inside long doc)") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon"), // fully embedded in 1
      (3L, "totally different words entirely over here now"))
      .toDF("doc_id", "text")
    val cont = Dedup.ngramContainmentPairs(d, "doc_id", "text", 3, 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cont.toSeq == Seq((1L, 2L, 1.0)), cont.mkString(","))
    val jac = Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.9).collect()
    assert(jac.isEmpty, "symmetric Jaccard must miss the embedded doc " +
      "(jac = 3/8) — that asymmetry is containment's reason to exist")
  }

  test("ngramJaccardPairs finds near and exact dups, skips unrelated") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup, jac = 1.0
    assert(pairs.contains((1L, 2L))) // near dup
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("minhashLshPairs agrees with exact Jaccard on clear dups") {
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.contains((1L, 4L)))
  }

  test("lshBandsConfig: the (Bands, Rows) geometry reproduces lshBands " +
    "exactly; more bands widen the candidate net monotonically; bad " +
    "geometries fail loudly") {
    val sig = Dedup.minhashSignatures(
      Dedup.hashedShingles(docs, "doc_id", "text"))
    val viaConfig = Dedup
      .lshBandsConfig(sig, hashing.Bands, hashing.Rows)
      .collect().map(_.toSeq).toSet
    val viaDefault = Dedup.lshBands(sig).collect().map(_.toSeq).toSet
    assert(viaConfig == viaDefault)
    // S-curve direction, where it is SET-guaranteed: a geometry whose
    // bands refine another's (every coarse band contains a full fine
    // band) can only ADD candidates. (2,6) nests inside all of
    // (3,4)/(4,3)/(6,2), and (6,2) contains all of them; (3,4) vs
    // (4,3) is only monotone in EXPECTATION, so it is not asserted.
    val cand = Seq((2, 6), (3, 4), (4, 3), (6, 2)).map { case (b, r) =>
      (b, r) -> Dedup.lshCandidatePairs(Dedup.lshBandsConfig(sig, b, r))
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    }.toMap
    for (g <- Seq((3, 4), (4, 3), (6, 2)))
      assert(cand((2, 6)).subsetOf(cand(g)), s"(2,6) not within $g")
    for (g <- Seq((2, 6), (3, 4), (4, 3)))
      assert(cand(g).subsetOf(cand((6, 2))), s"$g not within (6,2)")
    // the exact pair (1,4) is caught by EVERY geometry
    cand.values.foreach(c => assert(c.contains((1L, 4L))))
    intercept[IllegalArgumentException](Dedup.lshBandsConfig(sig, 5, 3))
    intercept[IllegalArgumentException](Dedup.lshBandsConfig(sig, 0, 3))
  }

  test("knnPropagateLabels: majority vote wins over a single nearer " +
    "opposite neighbor; vote ties break to the smaller label") {
    val labeled = Seq(
      (1L, Seq(1f, 0.1f, 0f), 7), (2L, Seq(1f, -0.1f, 0f), 7),
      (3L, Seq(0.96f, 0.28f, 0f), 3), // nearest single neighbor of q10
      (4L, Seq(0f, 1f, 0f), 5)
    ).toDF("vec_id", "embedding", "label")
    // q10 sits between: closest is label-3's vector, but labels 7+7
    // outvote it at k=3
    val unlabeled = Seq((10L, Seq(0.97f, 0.24f, 0f)))
      .toDF("vec_id", "embedding")
    def prop(k: Int) = Similarity.knnPropagateLabels(labeled, unlabeled,
        "vec_id", "embedding", "label", k)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(prop(1) == Map(10L -> 3)) // nearest alone
    assert(prop(3) == Map(10L -> 7)) // majority overrides nearest
    assert(prop(2) == Map(10L -> 3)) // 1-1 tie -> smaller label
  }

  test("knnPropagateLabelsIndexed == knnPropagateLabels at exhaustive " +
    "nProbe (the shared vote is recall-stage-independent); the " +
    "production nProbe=2 still predicts for every eval id") {
    import graft.queries.QueryDSL
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val seed = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val ev = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    val prefix = "graft_x18spec"
    Similarity.buildIvfIndex(spark, seed, "vec_id", "embedding", k = 12,
      iters = 2, path = QueryDSL.scratch("x18spec_index", sf),
      prefix = prefix)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val brute = m(Similarity.knnPropagateLabels(seed, ev,
      "vec_id", "embedding", "label", k = 5))
    // nProbe = cluster count -> the probe is exhaustive -> identical
    // neighbors -> identical votes, id for id
    val exhaustive = m(Similarity.knnPropagateLabelsIndexed(spark, seed,
      ev, "vec_id", "embedding", "label", k = 5, nProbe = 12,
      prefix = prefix))
    assert(brute.nonEmpty)
    assert(exhaustive == brute)
    // the bounded production probe covers the same eval set (recall is
    // approximate; coverage must not be)
    val approx = m(Similarity.knnPropagateLabelsIndexed(spark, seed, ev,
      "vec_id", "embedding", "label", k = 5, nProbe = 2,
      prefix = prefix))
    assert(approx.keySet == brute.keySet)
  }

  test("mmrRerank: diversity beats a redundant higher-tie candidate; " +
    "lambda = 1 degenerates to pure relevance order") {
    // q=[1,0,0]; c1=[1,1,0] and c3=[1,-1,0] tie on relevance (0.7071),
    // c2=[1,0.9,0] tops it (0.743) but is nearly identical to c1
    // (sim 0.9989), while c3 is nearly orthogonal to c2 (sim 0.0526).
    val corpus = Seq(
      (1L, Seq(1f, 1f, 0f)), (2L, Seq(1f, 0.9f, 0f)),
      (3L, Seq(1f, -1f, 0f)), (10L, Seq(1f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") === 10L)
    def picks(lambda: Double) =
      Similarity.mmrRerank(corpus, queries, "vec_id", "embedding",
          shortlist = 3, k = 2, lambda = lambda)
        .orderBy(col("rank")).collect()
        .map(r => r.getAs[Long]("nid")).toSeq
    // MMR: c2 first (best rel), then c3 — diversity overrides c1's
    // relevance tie-break win
    assert(picks(0.7) == Seq(2L, 3L))
    // pure relevance (lambda = 1): c2 then the tie-break winner c1
    assert(picks(1.0) == Seq(2L, 1L))
    // rank-1 score is lambda * rel in all cases
    val r1 = Similarity.mmrRerank(corpus, queries, "vec_id", "embedding",
        shortlist = 3, k = 1, lambda = 0.7)
      .collect().head
    assert(r1.getAs[Long]("nid") == 2L)
    assert(math.abs(r1.getAs[Double]("score") - 0.7 * 0.743) < 5e-4)
  }

  test("exact dup has identical minhash signature and simhash") {
    val sig = Dedup.minhashSignatures(Dedup.hashedShingles(docs, "doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(sig(1L) == sig(4L))
    assert(sig(1L) != sig(3L))
    val sh = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(4L))
  }

  test("simhash hamming distance orders by similarity") {
    val pairs = Dedup.simhashPairs(Dedup.simhash(docs, "doc_id", "text"), 60)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((1L, 4L)) == 0)
    assert(pairs((1L, 2L)) < pairs((1L, 3L)))
  }

  test("simhashPairs multi-index blocking is exact at every keyBlocks") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val sig = Dedup.simhash(d, "doc_id", "text")
    def pairs(kb: Int, dist: Int) =
      Dedup.simhashPairs(sig, dist, kb).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force: every doc shares the single zero-width-segment bucket
    val brute = pairs(1, 60).filter(_._3 <= 10)
    assert(brute.nonEmpty)
    // pigeonhole (kb=1) and combination blocking (kb=2,3) must all equal it
    for (kb <- 1 to 3) assert(pairs(kb, 10) == brute, s"keyBlocks=$kb")
  }

  test("maxBucketSize drops a planted 1k-doc boilerplate bucket; genuine " +
    "pairs survive and candidates stay bounded") {
    // 1000 identical boilerplate docs (the classic hot bucket: footer text,
    // license banners) + one genuine exact-dup pair + one unrelated doc.
    val boiler = (100L until 1100L).map(i =>
      (i, "all rights reserved copyright notice terms apply contact us now"))
    val d = (boiler ++ Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely unrelated content about distributed query engines")))
      .toDF("doc_id", "text")
    val bands = Dedup.lshBands(Dedup.minhashSignatures(
      Dedup.hashedShingles(d, "doc_id", "text")))
    // uncapped, the boilerplate bucket ALONE contributes C(1000,2) pairs —
    // the quadratic blow-up the cap exists to stop
    assert(Dedup.lshCandidatePairs(bands).count() >= 1000L * 999 / 2)
    // capped: the hot bucket vanishes, the genuine pair's 2-doc bucket
    // survives, and no surviving bucket exceeds the cap
    val capped = Dedup.lshCandidatePairs(bands, maxBucketSize = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)), capped.take(5).mkString(","))
    val maxSz = Dedup.capBuckets(bands, 8)
      .groupBy("band", "bandKey").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxSz <= 8)
    // end-to-end: the verified capped pipeline still finds the genuine dup
    val verified = Dedup
      .minhashLshPairs(d, "doc_id", "text", 3, 0.9, maxBucketSize = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified == Set((1L, 2L)))
  }

  test("connectedComponents: reliable-checkpoint mode matches local mode") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 4L)).toDF("a", "b")
    val local = Dedup.survivors(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.conf.set(Checkpoints.DirKey, dir)
    try {
      val reliable = Dedup.survivors(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reliable == local)
      // the mode actually wrote reliable checkpoint files
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "no reliable checkpoint files written")
    } finally spark.conf.unset(Checkpoints.DirKey)
  }

  test("Checkpoints: re-pointing spark.graft.checkpoint.dir mid-session " +
    "takes effect — the dir configured now receives the files") {
    import java.nio.file.{Files, Path}
    def written(dir: Path): Long = {
      val s = Files.walk(dir)
      try s.filter((p: Path) => Files.isRegularFile(p)).count()
      finally s.close()
    }
    val a = Files.createTempDirectory("graft_ckpt_a")
    val b = Files.createTempDirectory("graft_ckpt_b")
    try {
      spark.conf.set(Checkpoints.DirKey, a.toString)
      assert(Checkpoints.checkpoint(spark.range(10).toDF()).count() == 10L)
      val inA = written(a)
      assert(inA > 0, "no reliable checkpoint files under the first dir")
      spark.conf.set(Checkpoints.DirKey, b.toString)
      assert(Checkpoints.checkpoint(spark.range(10).toDF()).count() == 10L)
      assert(written(b) > 0, "the re-pointed dir received no files")
      assert(written(a) == inA, "the first dir kept receiving files")
    } finally spark.conf.unset(Checkpoints.DirKey)
  }

  test("asof lastPrior attaches latest prior value, null before first") {
    val left = Seq((1L, 10L, "a"), (1L, 25L, "b"), (2L, 5L, "c"))
      .toDF("k", "ts", "tag")
    val right = Seq((1L, 10L, 100.0), (1L, 20L, 200.0), (2L, 6L, 300.0))
      .toDF("k", "ts", "v0")
    val r = AsOfJoin.lastPrior(left,
        right.withColumnRenamed("v0", "v"), "k", "ts", "ts", Seq("v"))
      .collect().map(x => (x.getAs[String]("tag"),
        Option(x.getAs[java.lang.Double]("v")).map(_.toDouble))).toMap
    assert(r("a") == Some(100.0)) // tie rts == ts includes the right row
    assert(r("b") == Some(200.0))
    assert(r("c") == None) // right row is later than the probe
  }

  test("soft-dedup weights: every duplicate cluster carries ~one doc of " +
    "sampling mass, singletons keep weight 1") {
    // 3-doc cluster + 2-doc cluster + singleton
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "the quick brown fox jumps over the lazy dog tonight"),
      (4L, "distributed query engines shuffle partitioned data everywhere"),
      (5L, "distributed query engines shuffle partitioned data everywhere"),
      (6L, "completely unrelated single document standing alone here"))
      .toDF("doc_id", "text")
    val comp = Dedup.survivors(
      Dedup.minhashLshPairs(d, "doc_id", "text", 3, 0.9))
    val sizes = comp.groupBy(col("keep")).agg(count(lit(1)).as("size"))
    val w = d.join(comp.select(col("id").as("doc_id"), col("keep")),
        Seq("doc_id"), "left")
      .join(sizes, Seq("keep"), "left")
      .withColumn("w", round(lit(1.0) / coalesce(col("size"), lit(1L)), 6)
        .cast("decimal(18,6)"))
    val total = w.agg(sum(col("w")).cast("double")).collect()(0).getDouble(0)
    // 3 clusters of mass ~1 each (two dup clusters + the singleton);
    // quantization error ≤ n_docs × 5e-7
    assert(math.abs(total - 3.0) < 6 * 5e-7, s"total mass $total")
    val perDoc = w.select(col("doc_id"), col("w").cast("double"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(perDoc(6L) == 1.0, "singleton must keep full weight")
    assert(math.abs(perDoc(1L) - 1.0 / 3) < 1e-6)
    assert(perDoc(4L) == 0.5)
  }

  test("leakage-safe split: no LSH near-dup pair straddles two splits, " +
    "and all three splits are populated on the real corpus") {
    import graft.functions.hashing
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val pairs = Dedup.minhashLshPairs(d, "doc_id", "text", 3, 0.9,
      maxBucketSize = 64)
    val comp = Dedup.survivors(pairs)
    val split = d.join(comp.select(col("id").as("doc_id"), col("keep")),
        Seq("doc_id"), "left")
      .withColumn("grp", coalesce(col("keep"), col("doc_id")))
      .withColumn("bkt",
        pmod(hashing.h64(col("grp").cast("string")), lit(10L)))
      .select(col("doc_id"), col("bkt"))
    val straddling = pairs
      .join(split.select(col("doc_id").as("a"), col("bkt").as("ba")), "a")
      .join(split.select(col("doc_id").as("b"), col("bkt").as("bb")), "b")
      .filter(col("ba") =!= col("bb")).count()
    assert(straddling == 0,
      "a near-dup pair crossed splits — train/val leakage")
    assert(pairs.count() > 0, "fixture corpus must contain near-dups")
    val buckets = split.select(
        when(col("bkt") < 8, "train").when(col("bkt") === 8, "val")
          .otherwise("test").as("s"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(buckets == Set("train", "val", "test"))
  }

  test("asof nearest picks the smaller gap either direction, ties to the " +
    "earlier right row, null when the key has no right rows") {
    val left = Seq(
      (1L, 10L, "next_wins"),   // prior at 2 (gap 8), next at 12 (gap 2)
      (1L, 30L, "prior_wins"),  // prior at 28 (gap 2), next at 50 (gap 20)
      (1L, 39L, "tie"),         // 28 and 50 both gap 11 -> earlier (28)
      (2L, 5L, "only_next"),    // no prior; next at 9
      (3L, 5L, "no_match")      // key 3 has no right rows at all
    ).toDF("k", "ts", "tag")
    val right = Seq((1L, 2L, 20.0), (1L, 12L, 120.0), (1L, 28L, 280.0),
      (1L, 50L, 500.0), (1L, 52L, 520.0), (2L, 9L, 90.0))
      .toDF("k", "rts", "v")
    val r = AsOfJoin.nearest(left, right, "k", "ts", "rts", Seq("v"))
      .collect().map(x => (x.getAs[String]("tag"),
        (Option(x.getAs[java.lang.Long]("matched_ts")).map(_.toLong),
          Option(x.getAs[java.lang.Long]("gap")).map(_.toLong),
          Option(x.getAs[java.lang.Double]("v")).map(_.toDouble)))).toMap
    assert(r("next_wins") == ((Some(12L), Some(2L), Some(120.0))))
    assert(r("prior_wins") == ((Some(28L), Some(2L), Some(280.0))))
    assert(r("tie") == ((Some(28L), Some(11L), Some(280.0))),
      "equidistant must resolve to the EARLIER right row")
    assert(r("only_next") == ((Some(9L), Some(4L), Some(90.0))))
    assert(r("no_match") == ((None, None, None)))
  }

  test("LSH pairs == exact Jaccard pairs on the real corpus (full recall)") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val exact = Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(d, "doc_id", "text", 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // at jaccard ≥ 0.9 with 4 bands × 3 rows, P(miss) ≈ (1-0.9³)⁴ < 0.6% —
    // on the planted dups LSH must find everything the exact pass finds
    assert(lsh == exact)
  }

  test("production-hash (xxh60) LSH pairs == md5-hash LSH pairs == exact") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val exact = Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val prod = Dedup.minhashLshPairs(d, "doc_id", "text", 3, 0.9,
        hash = hashing.xxh60)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // full recall at near-dup thresholds + hash-independent Jaccard scores:
    // the production hash must reproduce the exact join bit-for-bit
    assert(prod == exact)
  }

  test("intervalJoin finds exactly the pairs within tolerance (boundaries in)") {
    val left = Seq((1L, 100L, "l1"), (1L, 250L, "l2"), (2L, 100L, "l3"))
      .toDF("k", "ts", "ltag")
    val right = Seq((1L, 90L, "r1"), (1L, 130L, "r2"), (1L, 201L, "r3"),
      (2L, 500L, "r4")).toDF("k", "pts", "rtag")
    val pairs = AsOfJoin.intervalJoin(left, right, "k", "ts", "pts", 30L)
      .select("ltag", "rtag").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // l1@100: r1@90 (|10|), r2@130 (|30| boundary included), not r3@201
    // l2@250: r3@201 is |49| > 30 -> excluded; l3: r4 is |400| -> excluded
    assert(pairs == Set(("l1", "r1"), ("l1", "r2")))
  }

  test("overlapJoin: exactly the overlapping interval pairs, each " +
    "emitted ONCE (canonical bucket) — boundaries in, multi-bucket " +
    "spans not duplicated, disjoint intervals out") {
    // bucket width 100: l1 spans buckets 0-2, l2 bucket 5, l3 bucket 9
    val left = Seq((1L, 10L, 250L), (2L, 500L, 560L), (3L, 900L, 910L))
      .toDF("lid", "ls", "le")
    val right = Seq(
      (10L, 40L, 260L),  // overlaps l1 across 3 shared buckets -> ONE pair
      (11L, 250L, 300L), // touches l1 exactly at le (boundary in)
      (12L, 561L, 600L), // starts after l2 ends -> out
      (13L, 860L, 900L)  // touches l3 exactly at ls (boundary in)
    ).toDF("rid", "rs", "re")
    val pairs = AsOfJoin.overlapJoin(left, right, "ls", "le", "rs", "re",
        bucketNs = 100L)
      .select("lid", "rid").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // a Seq (not Set) so a double-emitted pair would fail the test
    assert(pairs.sorted.toSeq == Seq((1L, 10L), (1L, 11L), (3L, 13L)))
    intercept[IllegalArgumentException](AsOfJoin.overlapJoin(
      left, right, "ls", "le", "rs", "re", bucketNs = 0L))
    intercept[IllegalArgumentException](AsOfJoin.overlapJoin(
      left, left, "ls", "le", "ls", "le", bucketNs = 100L))
  }

  test("kmeansCentroids is deterministic, bounded by k, and well-formed") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val c1 = Similarity.kmeansCentroids(e, "vec_id", "embedding", k = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val c2 = Similarity.kmeansCentroids(e, "vec_id", "embedding", k = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(c1 == c2) // bit-identical across runs
    assert(c1.size <= 8 && c1.nonEmpty)
    assert(c1.values.forall(_.length == 64))
    assert(c1.keys.forall(cid => cid >= 0 && cid < 8))
  }

  test("ivfTopK with kmeans centroids recalls brute-force neighbors") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = e.filter($"vec_id" < 20)
    val brute = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 3)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", k = 8)
      .select($"cid".as("vec_id"), $"cv".as("embedding"))
    val ivf = Similarity.ivfTopK(e, q, cents, "vec_id", "embedding",
        nProbe = 2, k = 3)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    // nProbe=2 of k=8 clusters scans ~1/4 of the corpus; the documented
    // trade is partial recall — but it must stay materially above chance.
    assert(recall >= 0.5, s"recall@3 = $recall")
  }

  test("ivfTopK finds in-cluster neighbors with deterministic ranks") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0.8f, 0.2f)),
      (10L, Array(0.0f, 1.0f)), (11L, Array(0.1f, 0.9f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(vecs, vecs.filter($"vec_id" === 1),
        vecs.filter($"vec_id".isin(0L, 10L)), "vec_id", "embedding",
        nProbe = 1, k = 2)
      .orderBy($"rank").collect().map(_.getAs[Long]("nid")).toSeq
    assert(out == Seq(0L, 2L)) // same-cluster neighbors only, cosine order
  }

  test("int8 quantization: per-component error <= scale/2, high topk recall") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val qz = e.select($"vec_id", $"embedding",
      Similarity.quantizeInt8($"embedding").as("qs"))
    // error bound: |v_i - q_i*scale| <= scale/2 (+1e-9 for the rounded scale)
    val viol = qz.select(
        max(expr("""aggregate(zip_with(embedding, qs.q, (v, q) ->
          abs(cast(v as double) - q * qs.scale) - (qs.scale / 2 + 1e-9)),
          cast(0.0 as double), (a, x) -> greatest(a, x))""")).as("worst"))
      .collect()(0).getDouble(0)
    assert(viol <= 0.0, s"component error above scale/2: $viol")
    // top-3 recall vs full precision stays high (int8 on 64 dims)
    val q = e.filter($"vec_id" < 20)
    val full = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 3)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val dq = e.select($"vec_id",
      Similarity.dequantInt8(Similarity.quantizeInt8($"embedding"))
        .as("embedding"))
    val quant = Similarity.bruteForceTopK(dq, dq.filter($"vec_id" < 20),
        "vec_id", "embedding", 3)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (full & quant).size.toDouble / full.size
    assert(recall >= 0.8, s"recall@3 after int8 = $recall")
  }

  test("quantizeInt8 matches a driver-side reference on random vectors") {
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 300).map { i =>
      val d = 1 + rnd.nextInt(128)
      (i.toLong, Array.fill(d)((rnd.nextFloat() - 0.5f) * 20f))
    }.filter(_._2.exists(_ != 0f))
    val got = vecs.toDF("id", "v")
      .select($"id", Similarity.quantizeInt8($"v").as("qs"))
      .select($"id", $"qs.scale".as("scale"), $"qs.q".as("q"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getSeq[Byte](2).toSeq)))
      .toMap
    // same arithmetic, driver-side: scala BigDecimal HALF_UP is what
    // Spark's Round uses for doubles
    def r9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r0(x: Double) =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble
    for ((id, v) <- vecs) {
      val scale = r9(v.map(x => math.abs(x.toDouble)).max / 127)
      val q = v.map(x =>
        math.max(math.min(r0(x.toDouble / scale), 127.0), -127.0).toByte).toSeq
      assert(got(id) == ((scale, q)), s"id $id")
    }
  }

  test("semDeDup drops exactly the smaller-id-neighbor vectors, in-cluster") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", k = 8)
    val tau = 0.45
    val kept = Similarity.semDeDup(e, cents, "vec_id", "embedding", tau)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute-force the contract: assignment by argmax cosine (ties by cid),
    // then drop iff a smaller-id clustermate sits at rounded cos >= tau
    val vecs = e.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    val cs = cents.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      def dot(x: Array[Double], y: Array[Double]) =
        x.indices.foldLeft(0.0)((s, i) => s + x(i) * y(i))
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    val assign = vecs.map { case (id, v) =>
      id -> cs.minBy { case (cid, cv) => (-cos(v, cv), cid) }._1
    }.toMap
    val expect = vecs.collect {
      case (id, v) if !vecs.exists { case (o, ov) =>
          o < id && assign(o) == assign(id) &&
            BigDecimal(cos(v, ov)).setScale(4,
              BigDecimal.RoundingMode.HALF_UP).toDouble >= tau } =>
        id -> assign(id)
    }.toMap
    assert(kept == expect)
    assert(kept.size < vecs.length, "some vector must actually drop")
  }

  test("prototypePrune: exact ceil cut per cluster, drops the most " +
    "prototypical side, keeps the hard examples") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", k = 8)
    val rows = Similarity
      .prototypePrune(e, cents, "vec_id", "embedding", prunePct = 30)
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("cluster"),
        r.getAs[Double]("prox"), r.getAs[Boolean]("dropped")))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (_, cl) =>
      val n = cl.length
      val dropped = cl.filter(_._4)
      // exact integer cut line: ceil(n * 30 / 100)
      assert(dropped.length == (n * 30 + 99) / 100)
      // every dropped row is at least as prototypical as every kept row
      // (ties broken by id inside the rank, so prox can be equal across
      // the cut)
      if (dropped.nonEmpty && dropped.length < n) {
        val minDropped = dropped.map(_._3).min
        val maxKept = cl.filterNot(_._4).map(_._3).max
        assert(minDropped >= maxKept,
          s"cut must separate by prototypicality: $minDropped < $maxKept")
      }
    }
    // prunePct = 0 drops nothing; 100 drops everything
    val none = Similarity
      .prototypePrune(e, cents, "vec_id", "embedding", prunePct = 0)
      .filter(org.apache.spark.sql.functions.col("dropped")).count()
    assert(none == 0L)
    val all = Similarity
      .prototypePrune(e, cents, "vec_id", "embedding", prunePct = 100)
      .filter(!org.apache.spark.sql.functions.col("dropped")).count()
    assert(all == 0L)
  }

  test("dedupCorpus keeps one doc per near-dup component") {
    val pairs = Seq((1L, 4L), (2L, 3L)).toDF("a", "b")
    val kept = Dedup.dedupCorpus(docs.unionByName(
        Seq((5L, "unrelated survivor text")).toDF("doc_id", "text")),
        "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 5L))
  }

  test("connectedComponents converges on a 60-node chain (pointer doubling)") {
    val chain = (1L until 60L).map(i => (i, i + 1)).toDF("a", "b")
    val roots = Dedup.survivors(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(roots.size == 60 && roots.values.forall(_ == 1L))
  }

  test("connectedComponents finds min-id roots across chained pairs") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 4L))
      .toDF("a", "b")
    val cc = Dedup.survivors(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      4L -> 4L, 9L -> 4L))
  }

  test("approx_count_distinct stays within its error bound") {
    val ev = graft.queries.QueryDSL.events(spark, sf)
    val exact = ev.select($"user_id").distinct().count()
    val approx = ev.agg(
      org.apache.spark.sql.functions
        .approx_count_distinct($"user_id", rsd = 0.02)).collect().head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.1)
  }

  test("cosine is 1 for identical vectors, ranks closer vectors higher") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 1),
        "vec_id", "embedding", 3)
      .orderBy($"rank").collect()
    assert(top.map(_.getAs[Long]("nid")).toSeq == Seq(4L, 2L, 3L))
    assert(top.head.getAs[Double]("cos") == 1.0)
  }

  test("cosineNeardupExact (grid) == naive all-pairs on the real corpus") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    def naive(threshold: Double) = {
      val l = e.select($"vec_id".as("a"), $"embedding".as("va"))
      val r = e.select($"vec_id".as("b"), $"embedding".as("vb"))
      l.join(r, $"a" < $"b")
        .select($"a", $"b",
          round(Similarity.cosine($"va", $"vb"), 4).as("cos"))
        .filter($"cos" >= threshold)
    }
    // low threshold so the expected set is non-trivial at sf0.001
    val expected = naive(0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expected.nonEmpty)
    for (blocks <- Seq(1, 4, 16)) {
      val grid = Similarity.cosineNeardupExact(e, "vec_id", "embedding",
          threshold = 0.3, blocks = blocks).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(grid.length == grid.toSet.size, s"duplicate pairs at B=$blocks")
      assert(grid.toSet == expected, s"mismatch at B=$blocks")
    }
  }

  test("cosineNeardupLsh is an exact-scored subset of the exact join") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val exact = Similarity.cosineNeardupExact(e, "vec_id", "embedding", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Similarity.cosineNeardupLsh(e, "vec_id", "embedding", dim = 64,
        threshold = 0.3, rows = 2, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh.subsetOf(exact)) // candidates filter, scores identical
    assert(lsh.nonEmpty)
  }

  test("multi-probe LSH recall >= single-bucket recall vs brute force") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = e.filter($"vec_id" < 30)
    def top1(df: org.apache.spark.sql.DataFrame) = df
      .filter($"rank" === 1).select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = top1(Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 1))
    val single = top1(Similarity.lshTopK(e, q, "vec_id", "embedding", 64, 1))
    val multi = top1(Similarity.lshTopKMultiProbe(e, q, "vec_id", "embedding",
      64, 1, probeDist = 1))
    def recall(s: Set[(Long, Long)]) = (s & brute).size.toDouble / brute.size
    assert(recall(multi) >= recall(single))
    assert(multi.size >= single.size) // every query keeps >= as many answers
  }

  test("lsh bucket collides for near-identical vectors") {
    val dim = 8
    val vecs = Seq(
      (1L, Array.fill(dim)(1.0f)),
      (2L, Array.fill(dim)(0.99f))
    ).toDF("vec_id", "embedding")
    val buckets = vecs.select($"vec_id",
        Similarity.lshBucket($"embedding", dim).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(buckets(1L) == buckets(2L))
  }

  test("crossCorpusNearDups finds exactly the cross-side near-dup pairs") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val left = d.filter($"doc_id" % 2 === 0)
    val right = d.filter($"doc_id" % 2 === 1)
    val cross = Dedup.crossCorpusNearDups(left, right, "doc_id", "text",
        3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: the exact all-pairs join restricted to cross-side pairs
    val allPairs = Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = allPairs.collect {
      case (a, b) if a % 2 == 0 && b % 2 == 1 => (a, b)
      case (a, b) if a % 2 == 1 && b % 2 == 0 => (b, a)
    }
    assert(cross == expected)
    assert(cross.forall { case (a, b) => a % 2 == 0 && b % 2 == 1 })
  }

  test("deterministicSample: reproducible, monotone in rate, disjointable") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    def ids(rate: Double) = Sampling.deterministicSample(d, "doc_id", rate)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s25a = ids(0.25); val s25b = ids(0.25); val s50 = ids(0.5)
    assert(s25a == s25b) // bit-reproducible across runs
    assert(s25a.subsetOf(s50)) // nested samples: bucket ranges are prefixes
    assert(s25a.nonEmpty && s50.size < d.count())
  }

  test("temperatureSample: deterministic, upsamples the tail, exact edges") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    def sample(frac: Double, alpha: Double, group: String = "lang") =
      Sampling.temperatureSample(d, group, "doc_id", frac, alpha)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val a = ids(sample(0.3, 0.5)); val b = ids(sample(0.3, 0.5))
    assert(a == b, "bit-reproducible")
    assert(a.nonEmpty && a.size < d.count())
    // alpha < 1 gives a SMALLER group a rate >= a larger group's rate:
    // thresholds scale as n^(alpha-1), monotone decreasing in n
    val counts = d.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val keptBy = sample(0.3, 0.5).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val biggest = counts.maxBy(_._2)._1
    val smallest = counts.minBy(_._2)._1
    val rBig = keptBy.getOrElse(biggest, 0L).toDouble / counts(biggest)
    val rSmall = keptBy.getOrElse(smallest, 0L).toDouble / counts(smallest)
    assert(rSmall > rBig,
      s"tail not upsampled: small $rSmall vs big $rBig")
    // alpha = 1 is proportional: every group gets the SAME integer
    // threshold, so the kept set is invariant to the grouping column
    assert(ids(sample(0.4, 1.0, "lang")) == ids(sample(0.4, 1.0, "source")))
    // targetFrac = 1 at alpha = 1 keeps everything (rate exactly 1 for
    // every group); at alpha < 1 it CANNOT (tail rates cap at 1, the head
    // stays below — reshaping can't overshoot); 0 keeps nothing
    assert(ids(sample(1.0, 1.0)).size == d.count())
    assert(ids(sample(1.0, 0.5)).size < d.count())
    assert(ids(sample(0.0, 0.5)).isEmpty)
  }

  test("perGroupCap keeps at most k per group, deterministically") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val capped = Sampling.perGroupCap(d, "lang", "doc_id", 5)
    val byLang = capped.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang.values.forall(_ <= 5))
    val again = Sampling.perGroupCap(d, "lang", "doc_id", 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == capped.select("doc_id").collect()
      .map(_.getLong(0)).toSet)
  }

  test("hyperplane components are in [-1, 1] and deterministic") {
    val v = hashing.hyperplane(3, 17)
    assert(v >= -1.0 && v <= 1.0)
    assert(v == hashing.hyperplane(3, 17))
  }

  test("pq: one code per (vector, subspace), codes in range, and a " +
    "full-corpus shortlist makes PQ+refine EXACTLY brute force") {
    val e = spark.range(60).select(col("id").cast("long").as("vec_id"),
      transform(sequence(lit(1), lit(16)), d =>
        sin((col("id") + 1) * d.cast("double")).cast("float"))
        .as("embedding")) // id+1: id 0 would be the all-zero vector
    val cbs = Similarity.pqCodebooks(e, "vec_id", "embedding",
      dim = 16, subspaces = 4, k = 4)
    assert(cbs.count() == 16L, "4 subspaces x 4 centroids")
    val codes = Similarity.pqEncode(e, "vec_id", "embedding", cbs,
      dim = 16, subspaces = 4)
    assert(codes.count() == 240L, "one code per (vector, subspace)")
    assert(codes.filter(col("code") < 0 || col("code") >= 4).count() == 0)
    val q = e.filter(col("vec_id") < 5)
    val viaPq = Similarity.pqTopK(e, codes, cbs, q, "vec_id", "embedding",
        dim = 16, subspaces = 4, k = 3, shortlist = 60)
      .select("qid", "rank", "nid", "cos").collect().map(_.toSeq).toSet
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 3)
      .select("qid", "rank", "nid", "cos").collect().map(_.toSeq).toSet
    assert(viaPq == exact,
      "refine over the whole corpus must recover exact search")
  }

  test("ivf-pq: residuals reconstruct (rv + cv = v), neighbors come only " +
    "from probed lists, and all-lists + full shortlist recovers exact L2") {
    val e = spark.range(60).select(col("id").cast("long").as("vec_id"),
      transform(sequence(lit(1), lit(16)), d =>
        sin((col("id") + 1) * d.cast("double")).cast("float"))
        .as("embedding"))
    val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding",
      k = 4, iters = 2)
    val rsd = Similarity.ivfResiduals(e, "vec_id", "embedding", cents)
    // residual + assigned centroid reconstructs the original vector
    val recon = rsd.join(cents.withColumnRenamed("cid", "cluster"),
        Seq("cluster"))
      .join(e.withColumnRenamed("vec_id", "id"), Seq("id"))
      .select(max(expr(
        "aggregate(zip_with(zip_with(rv, cv, (r, c) -> r + c), embedding," +
          " (s, v) -> abs(s - CAST(v AS DOUBLE)))," +
          " CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, x))")).as("err"))
      .collect()(0).getDouble(0)
    assert(recon < 1e-12, s"residual reconstruction error $recon")
    val cbs = Similarity.pqCodebooks(rsd, "id", "rv",
      dim = 16, subspaces = 4, k = 4)
    val codes = Similarity.pqEncode(rsd, "id", "rv", cbs,
      dim = 16, subspaces = 4)
    val q = e.filter(col("vec_id") < 5)
    // nProbe = 1: every returned neighbor must live in the query's one
    // probed list
    val one = Similarity.ivfPqTopK(e, rsd, codes, cbs, cents, q,
        "vec_id", "embedding", dim = 16, subspaces = 4, nProbe = 1,
        k = 3, shortlist = 60)
      .join(rsd.select(col("id").as("nid"),
        col("cluster").as("ncluster")), Seq("nid"))
    val probed = Similarity.probeCentroids(
      q.select(col("vec_id").as("qid"), col("embedding").as("qv")),
      cents, "qid", "qv", 1).select(col("qid"), col("cluster"))
    assert(one.join(probed, Seq("qid"))
      .filter(col("ncluster") =!= col("cluster")).count() == 0,
      "a neighbor escaped the probed inverted list")
    // nProbe = all lists + full shortlist: refine recovers exact L2 top-k
    val viaIvfPq = Similarity.ivfPqTopK(e, rsd, codes, cbs, cents, q,
        "vec_id", "embedding", dim = 16, subspaces = 4, nProbe = 4,
        k = 3, shortlist = 60)
      .select("qid", "rank", "nid", "d2").collect().map(_.toSeq).toSet
    val exact = {
      val qq = q.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("d2").asc, col("nid"))
      e.select(col("vec_id").as("nid"), col("embedding").as("nv"))
        .join(broadcast(qq), col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"),
          round(Similarity.dot(col("qv"), col("qv")) +
            Similarity.dot(col("nv"), col("nv")) -
            lit(2) * Similarity.dot(col("qv"), col("nv")), 4).as("d2"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("qid", "rank", "nid", "d2").collect().map(_.toSeq).toSet
    }
    assert(viaIvfPq == exact,
      "all-lists probe + full-corpus shortlist must recover exact L2")
  }

  test("pqCodebooks == kmeansCentroids run on each slice, exactly " +
    "(sf0.001 embeddings, dim 64, 8 subspaces, k = 16)") {
    val e = graft.queries.QueryDSL.T(spark, sf, "embeddings")
    val cbs = Similarity.pqCodebooks(e, "vec_id", "embedding",
        dim = 64, subspaces = 8, k = 16)
      .collect().groupBy(_.getAs[Int]("sub")).map { case (s0, rows) =>
        s0 -> rows.map(r =>
          r.getAs[Long]("cid") -> r.getAs[Seq[Double]]("cv")).toMap
      }
    assert(cbs.keySet == (0 until 8).toSet)
    for (s0 <- 0 until 8) {
      val sliced = e.select(col("vec_id"),
        slice(col("embedding"), s0 * 8 + 1, 8).as("sv"))
      val want = Similarity.kmeansCentroids(sliced, "vec_id", "sv", k = 16)
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      assert(want.nonEmpty)
      assert(cbs(s0) == want, s"subspace $s0: codebook != slice k-means")
    }
  }

  test("k-means training job counts are pinned, and x10, x11 and x13 " +
    "use the checkpointed centroids k-means returns without a second " +
    "checkpoint") {
    val e = graft.queries.QueryDSL.T(spark, sf, "embeddings")
    def noop(q: String): Unit = graft.SparkEntry.queries(q)(spark, sf)
      .write.format("noop").mode("overwrite").save()
    val jobs = Seq(
      "kmeansCentroids" -> jobsDuring(Similarity.kmeansCentroids(
        e, "vec_id", "embedding", k = 12, iters = 2)),
      "kmeansCentroidsAutoK" -> jobsDuring(Similarity.kmeansCentroidsAutoK(
        e, "vec_id", "embedding", targetClusterSize = 50)),
      "pqCodebooks" -> jobsDuring(Similarity.pqCodebooks(
        e, "vec_id", "embedding", dim = 64, subspaces = 8, k = 16,
        iters = 2)),
      "x10" -> jobsDuring(noop("x10_ann_recall")),
      "x11" -> jobsDuring(noop("x11_nprobe_sweep")),
      "x13" -> jobsDuring(noop("x13_ivf_pq")))
    // x10, x11 and x13 ran 31, 60 and 47 jobs while they re-checkpointed
    // the centroids kmeansCentroids already returns checkpointed
    assert(jobs == Seq("kmeansCentroids" -> 10, "kmeansCentroidsAutoK" -> 14,
      "pqCodebooks" -> 12, "x10" -> 30, "x11" -> 59, "x13" -> 46),
      jobs.mkString(", "))
  }

  test("bloom: no false negatives — every inserted hash passes its own " +
    "filter, even on a 64-bit filter where bit 63 is certainly used") {
    val hs = (1L to 200L).map(i => hashing.md5Long(s"h$i")).toDF("h")
    for (m <- Seq(64, 1 << 12)) {
      val bm = Dedup.bloomBitmap(hs, "h", mBits = m, numProbes = 3)
      val pass = Dedup.bloomMightContain(bm, hs, "h", m, 3).count()
      assert(pass == 200L, s"mBits=$m dropped inserted hashes")
    }
  }

  test("bloom: SIGNED hashes (raw xxhash64 production swap) keep the " +
    "no-false-negative contract — pmod normalization, not %") {
    val hs = spark.range(1, 201)
      .select(xxhash64(col("id").cast("string")).as("h")) // signed longs
    assert(hs.filter(col("h") < 0).count() > 0, "fixture needs negatives")
    val m = 1 << 12
    val bm = Dedup.bloomBitmap(hs, "h", m, numProbes = 3)
    assert(Dedup.bloomMightContain(bm, hs, "h", m, 3).count() == 200L)
  }

  test("bloom: false positives exist on a saturated filter and an exact " +
    "semi-join confirm removes exactly them") {
    val inserted = (1L to 500L).map(i => hashing.md5Long(s"in$i")).toDF("h")
    val outsiders = (1L to 500L).map(i => hashing.md5Long(s"out$i")).toDF("h")
    val m = 1 << 10 // 1024 bits for 1500 probe insertions: heavily loaded
    val bm = Dedup.bloomBitmap(inserted, "h", m, numProbes = 3)
    val outPass = Dedup.bloomMightContain(bm, outsiders, "h", m, 3)
    assert(outPass.count() > 0, "a saturated filter must show FPs")
    val confirmed = outPass.join(inserted, Seq("h"), "left_semi").count()
    assert(confirmed == 0L, "exact confirm must kill every false positive")
  }

  test("bloom prefilter + exact confirm == plain exact semi-join " +
    "(the e7 contract: the bloom changes the plan, never the result)") {
    val train = (1L to 300L).map(i => hashing.md5Long(s"t$i")).toDF("h")
    val eval_ = (250L to 400L).map(i => hashing.md5Long(s"t$i")).toDF("h")
    val m = 1 << 14
    val bm = Dedup.bloomBitmap(eval_, "h", m, numProbes = 3)
    val viaBloom = Dedup.bloomMightContain(bm, train, "h", m, 3)
      .join(eval_, Seq("h"), "left_semi").as[Long].collect().toSet
    val exact = train.join(eval_, Seq("h"), "left_semi")
      .as[Long].collect().toSet
    assert(viaBloom == exact)
    assert(exact.size == 51, s"overlap t250..t300 expected, got ${exact.size}")
  }
}
