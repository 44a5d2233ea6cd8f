package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}

/** Invariants for the training-data-pipeline operators, including the
  * properties the DuckDB oracle can't express (LSH recall against exact
  * ground truth, approximate-vs-exact containment).
  */
class ExtensionSpec extends SparkTestBase {

  private def docs = Tables.documents(spark, sf001)
  private def emb = Tables.embeddings(spark, sf001)

  test("exact dedup partitions the corpus") {
    val out = Dedup.exact(docs)
    val total = out.agg(sum("n_copies")).collect()(0).getLong(0)
    assert(total == docs.count())
  }

  test("bloom-delta exact dedup equals the plain anti-join, even with a saturated filter") {
    val archive = docs.filter(col("doc_id") % 3 === 0)
    val delta = docs.filter(col("doc_id") % 3 =!= 0)
    def asSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("keeper_id", "n_copies").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = asSet(Dedup.exact(
      delta.join(archive.select("text"), Seq("text"), "left_anti")))
    assert(asSet(Dedup.exactDeltaKeepers(archive, delta)) == expected)
    // a deliberately undersized filter saturates (high fpp) but the
    // exact confirm keeps the result identical — correctness never
    // depends on bloom sizing
    assert(asSet(Dedup.exactDeltaKeepers(archive, delta,
      expectedItems = 8, fpp = 0.5)) == expected)
  }

  test("minhash LSH candidates contain every exact pair >= threshold") {
    val exact = Dedup.jaccardPairs(docs, n = 1, threshold = 0.8)
      .select("id_a", "id_b")
    val lsh = Dedup.minhashDedupPairs(docs, n = 1, threshold = 0.8)
      .select("id_a", "id_b")
    assert(exact.exceptAll(lsh).count() == 0, "LSH missed exact pairs")
    assert(lsh.exceptAll(exact).count() == 0, "LSH emitted non-qualifying pairs")
  }

  test("simhash: identical word sets collide at hamming 0") {
    // jaccard=1.0 pairs (identical word sets) must have identical simhash
    val ones = Dedup.minhashDedupPairs(docs, n = 1, threshold = 0.9999)
      .select("id_a", "id_b")
    val sh = Dedup.simhashDedupPairs(docs, maxHamming = 0)
      .select("id_a", "id_b")
    assert(ones.exceptAll(sh).count() == 0)
  }

  test("ngram jaccard is sequence-sensitive: pairs are a subset of word-set pairs") {
    val tri = Dedup.minhashDedupPairs(docs, n = 3, threshold = 0.8).select("id_a", "id_b")
    val uni = Dedup.minhashDedupPairs(docs, n = 1, threshold = 0.8).select("id_a", "id_b")
    assert(tri.count() > 0)
    assert(tri.exceptAll(uni).count() <= tri.count()) // sanity; sets overlap
  }

  test("connected components match a union-find ground truth") {
    val pairs = Dedup.minhashDedupPairs(docs, threshold = 0.8)
    val got = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    // driver-side union-find over the same edges
    val edges = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = parent.keys.map(k => k -> find(k)).toMap
    assert(got.size == truth.size)
    got.foreach { case (id, c) => assert(truth(id) == c, s"node $id") }

    // both code paths — driver union-find below the edge bound and
    // distributed label propagation above it — must agree exactly
    val distributed = Dedup.clusters(pairs, driverSolveMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distributed == got)

    // keepers = corpus minus non-representatives
    val kept = Dedup.keepers(docs, pairs).count()
    val nonReps = truth.count { case (id, c) => id != c }
    assert(kept == docs.count() - nonReps)
  }

  test("minhash memo never serves one corpus's result for another") {
    // regression: the memo key must distinguish inputs that share a
    // table but differ in filters/scale — a collision here silently
    // returns wrong dedup results.
    val aIds = Dedup.minhashKeepers(docs, threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val bIds = Dedup.minhashKeepers(docs.filter(col("doc_id") % 2 === 0), threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bIds.nonEmpty && bIds.forall(_ % 2 == 0),
      "filtered corpus must not be served the full corpus's cached result")
    assert(aIds != bIds)
  }

  test("dedup report agrees with the keeper selection arithmetically") {
    val report = Dedup.dedupReport(docs, threshold = 0.8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val keeperCount = Dedup.minhashKeepers(docs, threshold = 0.8).count()
    assert(report("corpus_docs") == docs.count())
    assert(report("keeper_docs") == keeperCount,
      "report keepers must equal the actual keeper selection")
    assert(report("duplicate_docs") ==
      report("docs_in_clusters") - report("dup_clusters"))
    assert(report("largest_cluster") >= 2 || report("dup_clusters") == 0)
    assert(report("corpus_docs") ==
      report("keeper_docs") + report("duplicate_docs"))
  }

  test("capped keepers: superset of exact keepers; huge fanout reproduces them (r14)") {
    val exact = Dedup.minhashKeepers(docs, threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the recall contract: capped candidates ⊆ full candidates, so
    // components can only SPLIT — every exact keeper survives, some
    // near-dups may additionally survive; no document is ever lost
    val capped = Dedup.minhashKeepersCapped(docs, threshold = 0.8, fanout = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exact.subsetOf(capped),
      "capping must never lose a keeper (components split, never merge)")
    // fanout ≥ max bucket size − 1 covers every in-bucket pair: the
    // capped path reproduces the exact result bit for bit
    val wide = Dedup.minhashKeepersCapped(docs, threshold = 0.8,
        fanout = docs.count().toInt)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(wide == exact,
      "an uncapping fanout must reproduce the exact keeper set")
    // and the capped census is genuinely smaller than the exact one on
    // this collision-heavy corpus
    val full = Dedup.minhashCandidateCount(docs)
    val cap = Dedup.minhashCandidateCount(docs, fanout = 2)
    assert(cap < full, s"capped census $cap must undercut the exact $full")
  }

  test("minhashKeepers equals the generic keepers-over-expanded-pairs composition") {
    val viaPairs = Dedup.keepers(docs, Dedup.minhashDedupPairs(docs, threshold = 0.8))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val fused = Dedup.minhashKeepers(docs, threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(fused == viaPairs)
  }

  test("brute-force topk: k rows per query, ranks dense, cos in [-1,1]") {
    val out = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
    assert(out.count() == 50)
    assert(out.filter(col("cos") > 1.0 || col("cos") < -1.0).count() == 0)
    val ranks = out.groupBy("query_id").agg(max("rank").as("mx"), count(lit(1)).as("n"))
    assert(ranks.filter(col("mx") =!= 5 || col("n") =!= 5).count() == 0)
  }

  test("binary codes: packed hamming equals per-dimension sign disagreement") {
    val withCodes = emb.limit(50)
      .select(col("vec_id"), col("embedding"),
        Similarity.binaryCode(col("embedding"), 64).as("code"))
    val a = withCodes.select(col("vec_id").as("ida"), col("embedding").as("va"), col("code").as("ca"))
    val b = withCodes.select(col("vec_id").as("idb"), col("embedding").as("vb"), col("code").as("cb"))
    val pairs = a.crossJoin(b).filter(col("ida") < col("idb"))
      .withColumn("packed", Similarity.hamming(col("ca"), col("cb")))
      .withColumn("naive", aggregate(
        zip_with(col("va"), col("vb"), (x, y) =>
          when((x > 0) =!= (y > 0), lit(1)).otherwise(lit(0))),
        lit(0), (acc, x) => acc + x))
    assert(pairs.filter(col("packed") =!= col("naive")).count() === 0)
    // 64 dims → exactly one packed word
    assert(withCodes.filter(size(col("code")) =!= 1).count() === 0)
  }

  test("binary topk with a full-corpus shortlist matches brute force exactly") {
    val q = emb.filter(col("vec_id") < 5)
    val n = emb.count().toInt
    val viaBinary = Similarity.binaryTopK(emb, q, k = 5, dim = 64, oversample = n)
      .select("query_id", "rank", "neighbor_id", "cos")
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
    assert(viaBinary.exceptAll(exact).count() === 0 &&
      exact.exceptAll(viaBinary).count() === 0)
  }

  test("binary topk recall: hamming shortlist finds the true nearest often") {
    val q = emb.filter(col("vec_id") < 20)
    val truth = Similarity.bruteForceTopK(emb, q, k = 1)
      .select(col("query_id"), col("neighbor_id").as("true_nn"))
    val approx = Similarity.binaryTopK(emb, q, k = 1, dim = 64, oversample = 10)
      .select(col("query_id"), col("neighbor_id").as("bin_nn"))
    val hits = truth.join(approx, "query_id")
      .filter(col("true_nn") === col("bin_nn")).count()
    assert(hits >= 12, s"binary-quantization recall@1 too low: $hits/20")
  }

  test("random projection: deterministic, hand-checked, seed-sensitive") {
    import spark.implicits._
    val one = Seq((1L, (0 until 64).map(i => if (i == 3) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.randomProject(one, dim = 64, outDim = 8, seed = 7L)
      .collect().head
    // a one-hot vector projects to exactly plane[j][3] / sqrt(8)
    val planes = Similarity.hyperplanes(64, 8, 7L)
    (0 until 8).foreach { j =>
      val want = math.round(planes(j)(3) / math.sqrt(8.0) * 1e6) / 1e6
      assert(out.getDouble(1 + j) == want, s"component $j")
    }
    // same seed → identical output; different seed → different planes
    val a = Similarity.randomProject(emb, 64, 8, seed = 42L).collect().toSeq
    val b = Similarity.randomProject(emb, 64, 8, seed = 42L).collect().toSeq
    val c = Similarity.randomProject(emb, 64, 8, seed = 43L).collect().toSeq
    assert(a == b)
    assert(a != c)
  }

  test("sq8 codes are integral, clamped, and degenerate dims code zero") {
    import spark.implicits._
    val (lo, hi) = Similarity.sqCalibrate(emb, 64)
    assert(lo.length == 64 && lo.indices.forall(d => lo(d) <= hi(d)))
    val coded = emb.select(Similarity.sqCode(col("embedding"), lo, hi).as("code"))
    // every code element integral and within [0, 255]
    assert(coded.filter(exists(col("code"), x =>
      x < 0 || x > 255 || x =!= round(x, 0))).count() === 0)
    // a constant dimension calibrates to step 0 and codes 0
    val const = Seq((1L, Seq(3.5f, 1.0f)), (2L, Seq(3.5f, 2.0f)))
      .toDF("vec_id", "embedding")
    val (l2, h2) = Similarity.sqCalibrate(const, 2)
    assert(l2(0) == 3.5 && h2(0) == 3.5)
    val c2 = const.select(Similarity.sqCode(col("embedding"), l2, h2).as("code"))
      .collect().map(_.getSeq[Double](0))
    assert(c2.forall(_.head == 0.0))
    assert(c2.map(_(1)).sorted.toSeq == Seq(0.0, 255.0))
  }

  test("sq topk with a full-corpus shortlist matches brute force exactly") {
    val q = emb.filter(col("vec_id") < 5)
    val n = emb.count().toInt
    val viaSq = Similarity.sqTopK(emb, q, k = 5, dim = 64, oversample = n)
      .select("query_id", "rank", "neighbor_id", "cos")
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
    assert(viaSq.exceptAll(exact).count() === 0 &&
      exact.exceptAll(viaSq).count() === 0)
  }

  test("sq topk recall beats the binary code (8 bits/dim vs 1)") {
    val q = emb.filter(col("vec_id") < 20)
    val truth = Similarity.bruteForceTopK(emb, q, k = 1)
      .select(col("query_id"), col("neighbor_id").as("true_nn"))
    val approx = Similarity.sqTopK(emb, q, k = 1, dim = 64, oversample = 10)
      .select(col("query_id"), col("neighbor_id").as("sq_nn"))
    val hits = truth.join(approx, "query_id")
      .filter(col("true_nn") === col("sq_nn")).count()
    // 8-bit affine codes approximate the dot far better than sign bits:
    // the ADC shortlist should almost always contain the true nearest
    assert(hits >= 17, s"sq8 recall@1 too low: $hits/20")
  }

  test("training order: reproducible, dense per-shard positions, seed-sensitive") {
    import graft.operators.Sampling
    val a = Sampling.trainingOrder(docs, nShards = 8, seed = 42L).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1).toSeq
    val b = Sampling.trainingOrder(docs, nShards = 8, seed = 42L).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(a == b, "same seed must reproduce the exact order")
    assert(a.map(_._1).toSet.size == a.size, "one row per document")
    // positions are dense 0..k-1 within every shard
    a.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted == (0L until rows.size).toSeq,
        s"shard $shard positions not dense")
    }
    // every shard populated, no shard out of range
    assert(a.map(_._2).toSet.subsetOf((0 until 8).toSet))
    assert(a.map(_._2).distinct.size == 8)
    // a different seed yields a different order
    val c = Sampling.trainingOrder(docs, nShards = 8, seed = 7L).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(a != c)
  }

  test("leakage-safe split: group-keyed, deterministic, roughly proportioned") {
    import graft.operators.Sampling
    val split = Sampling.assignSplit(docs, "source",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    // every group lands wholly in one split — the leakage-safety contract
    assert(split.groupBy("source")
      .agg(countDistinct(col("split")).as("k"))
      .filter(col("k") =!= 1).count() === 0)
    // deterministic across evaluations
    val again = Sampling.assignSplit(docs, "source",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(split.select("doc_id", "split").exceptAll(
      again.select("doc_id", "split")).count() === 0)
    // all three splits realized; train is the (group-level) majority
    val bySplit = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.keySet === Set("train", "val", "test"))
    assert(bySplit("train") > bySplit("val") && bySplit("train") > bySplit("test"))
    // invalid fractions refuse
    intercept[IllegalArgumentException](
      Sampling.assignSplit(docs, "source", Seq("a" -> 0.5, "b" -> 0.4)))
    // near-dup-cluster keying: members of a pair never straddle splits
    val pairs = Dedup.minhashDedupPairs(docs, threshold = 0.8).select("id_a", "id_b")
    val labels = Dedup.clusters(pairs).withColumnRenamed("id", "doc_id")
    val byCluster = Sampling.assignSplit(
      docs.join(labels, Seq("doc_id"), "left_outer")
        .withColumn("cluster", coalesce(col("cluster"), col("doc_id"))),
      "cluster", Seq("train" -> 0.9, "test" -> 0.1))
    val sOf = byCluster.select(col("doc_id"), col("split"))
    assert(pairs
      .join(sOf.toDF("id_a", "sa"), "id_a")
      .join(sOf.toDF("id_b", "sb"), "id_b")
      .filter(col("sa") =!= col("sb")).count() === 0,
      "a near-dup pair must never straddle train and test")
  }

  test("unigram perplexity: exact values on a hand corpus, outliers score high") {
    import spark.implicits._
    // counts: a=2, b=1, c=1 → T=4, V=3, denominator 7
    val docs = Seq((1L, "a a b"), (2L, "c")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramPerplexity(docs).orderBy("doc_id").collect()
    val pa = 3.0 / 7; val pb = 2.0 / 7; val pc = 2.0 / 7
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val nll1 = -(r6(math.log(pa)) * 2 + r6(math.log(pb))) / 3
    assert(out(0).getLong(1) === 3L)
    assert(out(0).getDouble(2) === nll1.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // doc 2 is a single token with p=2/7 → ppl is exactly 7/2
    assert(out(1).getDouble(3) === 3.5)
    // an all-rare-tokens document must out-score a common-tokens one
    val mixed = Seq((1L, "the the the cat"), (2L, "the cat sat"),
      (3L, "zzz qqq vvv")).toDF("doc_id", "text")
    val ppl = TextAnalysis.unigramPerplexity(mixed)
      .select("doc_id", "ppl").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ppl(3L) > ppl(2L) && ppl(3L) > ppl(1L))
  }

  test("IVF topk hits the true nearest neighbor for most queries") {
    val truth = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20), k = 1)
      .select(col("query_id"), col("neighbor_id").as("true_nn"))
    val approx = Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 20), k = 1, dim = 64)
      .select(col("query_id"), col("neighbor_id").as("ivf_nn"))
    val hits = truth.join(approx, "query_id")
      .filter(col("true_nn") === col("ivf_nn")).count()
    // IVF searches a single cell; recall@1 is imperfect by design, but a
    // seeded partition of 16 cells should still agree often.
    assert(hits >= 8, s"IVF recall@1 too low: $hits/20")
  }

  test("k-means training tightens cells and keeps IVF recall") {
    val seed = Similarity.kmeansCentroids(emb, k = 16, dim = 64, iters = 0)
    val trained = Similarity.kmeansCentroids(emb, k = 16, dim = 64, iters = 3)
    val objSeed = Similarity.kmeansObjective(emb, seed)
    val objTrained = Similarity.kmeansObjective(emb, trained)
    // Lloyd rounds must improve the mean cosine distance to the assigned
    // centroid (small slack: the mean update is the spherical-k-means
    // optimum only for normalized vectors)
    assert(objTrained < objSeed,
      s"k-means objective did not improve: $objSeed -> $objTrained")
    val truth = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20), k = 1)
      .select(col("query_id"), col("neighbor_id").as("true_nn"))
    val approx = Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 20),
        k = 1, dim = 64, trainIters = 3)
      .select(col("query_id"), col("neighbor_id").as("ivf_nn"))
    val hits = truth.join(approx, "query_id")
      .filter(col("true_nn") === col("ivf_nn")).count()
    assert(hits >= 8, s"trained-IVF recall@1 too low: $hits/20")
  }

  test("LSH near-dup pairs are a high-recall subset of exact cosine pairs") {
    val exact = Similarity.cosineNearDupPairs(emb, 0.4).select("id_a", "id_b")
    val lsh = Similarity.lshNearDupPairs(emb, 0.4, dim = 64, nBits = 4, nTables = 8)
      .select("id_a", "id_b")
    assert(lsh.exceptAll(exact).count() == 0, "LSH produced pairs below threshold")
    val recall = lsh.count().toDouble / exact.count().toDouble
    assert(recall >= 0.7, s"LSH recall $recall below 0.7")
  }

  test("decontamination agrees with the single-frame exact algorithm") {
    val corpus = docs.filter(col("doc_id") % 17 =!= 0)
    val ref = docs.filter(col("doc_id") % 17 === 0)
    val pairs = Dedup.contaminationPairs(corpus, ref, threshold = 0.8)
    // ground truth: exact all-pairs over the union, restricted to pairs
    // that straddle the corpus/reference split
    val crossFromAll = Dedup.jaccardPairs(docs, n = 1, threshold = 0.8)
      .filter((col("id_a") % 17 === 0) =!= (col("id_b") % 17 === 0))
      .select(
        when(col("id_a") % 17 === 0, col("id_b")).otherwise(col("id_a")).as("corpus_id"),
        when(col("id_a") % 17 === 0, col("id_a")).otherwise(col("id_b")).as("ref_id"))
    val got = pairs.select("corpus_id", "ref_id")
    assert(got.exceptAll(crossFromAll).count() == 0, "spurious contamination pairs")
    assert(crossFromAll.exceptAll(got).count() == 0, "missed contamination pairs")
    // and the cleaned corpus contains exactly the uncontaminated docs
    val clean = Dedup.decontaminate(corpus, ref, threshold = 0.8)
    val nBad = pairs.select("corpus_id").distinct().count()
    assert(clean.count() == corpus.count() - nBad)
    assert(clean.join(pairs.select(col("corpus_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_semi").count() == 0)
  }

  test("ngram overlap: identical docs share exactly their distinct n-gram count") {
    val spark0 = spark
    import spark0.implicits._
    val corpus = Seq((1L, "a b c d e f"), (2L, "totally different words here now ok"))
      .toDF("doc_id", "text")
    val ref = Seq((100L, "a b c d e f")).toDF("doc_id", "text")
    val out = Dedup.ngramOverlap(corpus, ref, n = 3, minCommon = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 1 == ref 100: four distinct trigrams in a 6-word doc; doc 2: none
    assert(out.toSeq == Seq((1L, 100L, 4L)))
  }

  test("token-budget mixing matches a driver-side replay of the cumsum rule") {
    val budgets = Map("src1" -> 600L, "src2" -> 400L, "src9" -> 1L)
    val withTokens = docs.withColumn("n_tokens", size(split(col("text"), "\\s+")))
    val got = Sampling.mixByTokenBudget(withTokens, "source", "doc_id",
        "n_tokens", budgets)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val rows = withTokens.filter(col("source").isin(budgets.keys.toSeq: _*))
      .select("source", "doc_id", "n_tokens").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    val expected = rows.groupBy(_._1).toSeq.flatMap { case (src, rs) =>
      var cum = 0L
      rs.sortBy(_._2).filter { case (_, _, t) =>
        val keep = cum < budgets(src); cum += t; keep
      }.toSeq
    }.map(_._2).toSet
    assert(got == expected)
    // budget=1 keeps exactly the first doc of its source (floor semantics)
    assert(rows.filter(_._1 == "src9").map(_._2).min == got.intersect(
      rows.filter(_._1 == "src9").map(_._2).toSet).min)
    assert(got.intersect(rows.filter(_._1 == "src9").map(_._2).toSet).size == 1)
  }

  test("repetition metrics match hand-computed values") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq(
      (1L, "a b a b a"),        // words: 5, distinct 2; bigrams: [a b, b a, a b, b a] -> top 2/4, dup 2/4
      (2L, "x y z"),            // no repetition
      (3L, "w"),                // single word: no bigrams
      (4L, "q q q q")           // fully degenerate
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionMetrics(df).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(out(0) == ((1L, 5, 0.6, 0.5, 0.5)))
    assert(out(1) == ((2L, 3, 0.0, 0.5, 0.0)))
    assert(out(2) == ((3L, 1, 0.0, 0.0, 0.0)))
    assert(out(3) == ((4L, 4, 0.75, 1.0, 0.666667)))
  }

  test("langid is deterministic and covers all docs") {
    val out = docs.select(TextAnalysis.langId(col("text")).as("l"))
    assert(out.filter(col("l").isNull).count() == 0)
  }

  test("token counts: bpe tokens >= whitespace tokens on plain text") {
    val out = TextAnalysis.tokenCounts(docs)
    assert(out.filter(col("bpe_tokens") < col("ws_tokens")).count() == 0)
  }

  test("greedy packing: bins never exceed the budget except oversized single docs") {
    val withTokens = docs.withColumn("n_tokens", size(split(col("text"), "\\s+")))
    val packed = Packing.packGreedy(withTokens, "source", "doc_id", "n_tokens", budget = 300L)
    assert(packed.count() == docs.count()) // every doc lands in exactly one bin
    val over = packed.groupBy("source", "bin")
      .agg(sum("n_tokens").as("tot"), count(lit(1)).as("n"))
      .filter(col("tot") > 300 && col("n") > 1)
    assert(over.count() == 0, "a multi-doc bin exceeded the budget")
  }

  test("keepersBy keeps exactly one doc per cluster, the best-scoring one") {
    val pairs = Dedup.minhashDedupPairs(docs, threshold = 0.8)
    val scored = docs.join(
      TextAnalysis.qualityMetrics(docs).select("doc_id", "quality_score"), "doc_id")
    val kept = Dedup.keepersBy(scored, pairs, "quality_score")
    // same cluster count as min-id keepers — only the representative differs
    assert(kept.count() == Dedup.keepers(docs, pairs).count())
    // every kept doc's score is >= every dropped clustermate's score
    val labels = Dedup.clusters(pairs)
    val keptScores = kept.join(labels.withColumnRenamed("id", "doc_id"), "doc_id")
      .select(col("cluster"), col("quality_score").as("kept_score"))
    val worse = scored.join(labels.withColumnRenamed("id", "doc_id"), "doc_id")
      .join(keptScores, "cluster")
      .filter(col("quality_score") > col("kept_score"))
    assert(worse.count() == 0, "a dropped doc outscored its cluster keeper")
  }

  test("redact masks email, ip and phone but not plain words") {
    import spark.implicits._
    val out = Seq("mail a.b+c@x-y.co end, host 192.168.0.1, call +1(555)010-4321 now, v1.2 stays")
      .toDF("t").select(TextAnalysis.redact(col("t")).as("r")).as[String].head()
    assert(out == "mail <EMAIL> end, host <IP>, call <PHONE> now, v1.2 stays")
  }

  test("stratified sampling keeps configured strata at 1-in-m, drops the rest") {
    import spark.implicits._
    val df = (0 until 100).map(i => (i.toLong, if (i % 2 == 0) "a" else "b")).toDF("id", "s")
    val kept = Sampling.stratified(df, "s", "id", Map("a" -> 5)).as[(Long, String)].collect()
    assert(kept.forall { case (id, s) => s == "a" && id % 5 == 0 })
    assert(kept.length == 10) // ids 0,10,...,90: even (stratum a) and %5==0
  }

  test("incremental IVF: delta ingest never moves archive assignments") {
    val archive = emb.filter(col("vec_id") % 4 =!= 0)
    val delta = emb.filter(col("vec_id") % 4 === 0)
    val before = Similarity.ivfAssignIncremental(archive, delta.limit(0))
      .select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val after = Similarity.ivfAssignIncremental(archive, delta)
    val archiveAfter = after.filter(!col("is_delta"))
      .select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(archiveAfter == before, "frozen centroids must keep archive cells stable")
    // every vector lands in exactly one cell; the union is complete
    assert(after.count() == emb.count())
    assert(after.select("vec_id").distinct().count() == emb.count())
  }

  test("weighted sample is deterministic, k-sized, and length-biased") {
    val a = Sampling.weightedSample(docs, "doc_id", "n_chars", k = 100)
    val b = Sampling.weightedSample(docs, "doc_id", "n_chars", k = 100)
    assert(a.select("doc_id").collect().toSeq == b.select("doc_id").collect().toSeq)
    assert(a.count() == 100)
    // u^(1/w) keys favor large w: sampled docs should be longer on average
    val sampledMean = a.agg(avg("n_chars")).collect()(0).getDouble(0)
    val corpusMean = docs.agg(avg("n_chars")).collect()(0).getDouble(0)
    assert(sampledMean > corpusMean,
      s"weighting had no effect: $sampledMean <= $corpusMean")
  }

  test("per-source cap keeps exactly the top-N by preference, and is idempotent") {
    val capped = Sampling.capPerSource(docs, "source", "n_chars", "doc_id", n = 10)
    val bySource = capped.groupBy("source").count().collect()
    assert(bySource.forall(_.getLong(1) <= 10))
    // kept set == direct top-10 per source by (n_chars desc, doc_id)
    val expected = docs.select("doc_id", "source", "n_chars").collect()
      .groupBy(_.getString(1)).values.flatMap { rs =>
        rs.sortBy(r => (-r.getLong(2), r.getLong(0))).take(10)
      }.map(_.getLong(0)).toSet
    assert(capped.select("doc_id").collect().map(_.getLong(0)).toSet == expected)
    val twice = Sampling.capPerSource(capped, "source", "n_chars", "doc_id", n = 10)
    assert(twice.count() == capped.count())
  }

  test("word winnowing: window minima, distinct, k smallest") {
    import spark.implicits._
    val df = Seq("b a z y x w", "z q").toDF("text")
    val out = df.select(TextAnalysis.fingerprintWords(col("text"), 4, 8).as("fp"))
      .as[Seq[String]].collect()
    // windows of 4: [b a z y]->a [a z y x]->a [z y x w]->w; short doc: one window
    assert(out(0) == Seq("a", "w"))
    assert(out(1) == Seq("q"))
  }

  test("multimodal: features preserve rows, drop media, stub is deterministic") {
    val f1 = Multimodal.features(spark, docs)
    val f2 = Multimodal.features(spark, docs)
    assert(f1.count() == docs.count())
    assert(!f1.columns.contains("media"))
    assert(f1.exceptAll(f2).count() == 0)
    val (w, h, fr, m) = Multimodal.decodeStub("hello world".getBytes("UTF-8"), "video")
    assert(w == 16 + 11 % 640 && fr == 1 + 11 % 24 && m > 0)
  }

  test("multimodal: real ImageIO decode parses pixels, stub only as fallback") {
    // encode → decode round-trip through the actual JDK codec readers
    for (codec <- Seq("png", "bmp")) {
      val bytes = Multimodal.encodeImage(20, 11, 137, codec)
      val Some((w, h, fr, mean)) = Multimodal.decodeImage(bytes)
      assert((w, h, fr) == (20, 11, 1), s"$codec dims wrong: ($w,$h,$fr)")
      assert(mean == 137.0, s"$codec constant-gray mean must be exact: $mean")
    }
    // non-image payloads fall back to the deterministic stub
    val garbage = "not an image".getBytes("UTF-8")
    assert(Multimodal.decodeImage(garbage).isEmpty)
    assert(Multimodal.decode(garbage, "image") ==
      Multimodal.decodeStub(garbage, "image"))
    // audio/video never route through ImageIO
    assert(Multimodal.decode(garbage, "video") ==
      Multimodal.decodeStub(garbage, "video"))
  }

  test("multimodal: real WAV decode parses sample frames, stub only as fallback") {
    // mono and stereo encode → decode round-trips through javax.sound
    val mono = Multimodal.encodeWav(16000, 3200, 250.toShort)
    val Some((rate, ch, frames, mean)) = Multimodal.decodeWav(mono)
    assert((rate, ch, frames) == (16000, 1, 3200L))
    assert(mean == 250.0, s"constant-amplitude mean must be exact: $mean")
    val stereo = Multimodal.encodeWav(8000, 1600, 999.toShort, channels = 2)
    val Some((rate2, ch2, frames2, mean2)) = Multimodal.decodeWav(stereo)
    assert((rate2, ch2, frames2) == (8000, 2, 1600L))
    assert(mean2 == 999.0)
    // dispatch maps the audio quad (rate, channels, frames, mean_abs)
    assert(Multimodal.decode(mono, "audio") == (16000, 1, 3200, 250.0))
    // non-WAV payloads fall back to the deterministic stub — the stub's
    // remaining legitimate domain is video plus undecodable payloads
    val garbage = "not a wav".getBytes("UTF-8")
    assert(Multimodal.decodeWav(garbage).isEmpty)
    assert(Multimodal.decode(garbage, "audio") ==
      Multimodal.decodeStub(garbage, "audio"))
  }

  test("multimodal: real AVI container decode, stub only for undecodable video") {
    val avi = Multimodal.encodeAvi(640, 360, 240, 33333L)
    val Some((w, h, frames, uspf)) = Multimodal.decodeAvi(avi)
    assert((w, h, frames, uspf) == (640, 360, 240, 33333L))
    // dispatch maps the video quad (width, height, frames, fps)
    assert(Multimodal.decode(avi, "video") == (640, 360, 240, 30.0003))
    // typed path: fps and duration derived from the header exactly
    import spark.implicits._
    val vf = Multimodal.extractVideoFeatures(
      Seq(Multimodal.MediaRow(1L, avi, "avi")).toDS()).collect()
    assert(vf.length == 1)
    assert(vf(0).fps == 30.0003 && vf(0).duration_sec == 7.99992)
    // truncated container and non-RIFF payloads fall back
    assert(Multimodal.decodeAvi(java.util.Arrays.copyOf(avi, 30)).isEmpty)
    val garbage = "definitely not an avi".getBytes("UTF-8")
    assert(Multimodal.decodeAvi(garbage).isEmpty)
    assert(Multimodal.decode(garbage, "video") ==
      Multimodal.decodeStub(garbage, "video"))
  }

  test("multimodal: real MJPEG frame-pixel decode from the AVI movi chunks") {
    // constant-gray JPEG round-trips exactly through the JDK codec
    // (DC-only blocks), so decoded per-frame means equal the grays
    val grays = Seq(0, 17, 128, 255)
    val avi = Multimodal.encodeMjpegAvi(24, 16, grays, 40000L)
    val frames = Multimodal.decodeAviFrames(avi)
    assert(frames.map(_._1) == Seq(0, 1, 2, 3))
    assert(frames.forall { case (_, w, h, _) => w == 24 && h == 16 })
    assert(frames.map(_._4) == grays.map(_.toDouble))
    // the same payload's container header still parses (frames advertised)
    assert(Multimodal.decodeAvi(avi).map(_._3).contains(grays.length))
    // typed Dataset path: one row per frame, small quads only
    import spark.implicits._
    val vf = Multimodal.extractVideoFrames(
      Seq(Multimodal.MediaRow(7L, avi, "avi")).toDS()).collect().sortBy(_.frame_idx)
    assert(vf.map(f => (f.doc_id, f.frame_idx, f.width, f.height, f.mean_intensity)).toSeq ==
      grays.zipWithIndex.map { case (g, i) => (7L, i, 24, 16, g.toDouble) })
    // header-only AVI (no movi payload) and garbage yield zero frames
    assert(Multimodal.decodeAviFrames(Multimodal.encodeAvi(64, 48, 10, 33333L)).isEmpty)
    assert(Multimodal.decodeAviFrames("nope".getBytes("UTF-8")).isEmpty)
    // truncated mid-movi payload must terminate (malformed-size guards)
    assert(Multimodal.decodeAviFrames(java.util.Arrays.copyOf(avi, avi.length / 2)).length <= grays.length)
  }

  test("multimodal: raw-DIB frame-pixel decode (00db chunks, strf geometry)") {
    // raw frames are bare BGR bytes — a constant-gray frame's mean IS
    // the gray, exactly, no codec round-trip involved. Width 17 makes
    // 3·w odd, so every row carries 4-byte-boundary padding the mean
    // must exclude (padding bytes are zero: including them would pull
    // the mean below the gray).
    val grays = Seq(0, 17, 128, 255)
    val avi = Multimodal.encodeRawDibAvi(17, 12, grays, 40000L)
    val frames = Multimodal.decodeAviFrames(avi)
    assert(frames.map(_._1) == Seq(0, 1, 2, 3))
    assert(frames.forall { case (_, w, h, _) => w == 17 && h == 12 })
    assert(frames.map(_._4) == grays.map(_.toDouble))
    // the container header still parses (avih precedes the strl list)
    assert(Multimodal.decodeAvi(avi).map(v => (v._1, v._2, v._3))
      .contains((17, 12, grays.length)))
    // typed Dataset path
    import spark.implicits._
    val vf = Multimodal.extractVideoFrames(
      Seq(Multimodal.MediaRow(9L, avi, "avi")).toDS()).collect().sortBy(_.frame_idx)
    assert(vf.map(f => (f.frame_idx, f.width, f.height, f.mean_intensity)).toSeq ==
      grays.zipWithIndex.map { case (g, i) => (i, 17, 12, g.toDouble) })
    // a non-constant frame: mean is the exact pixel average
    val rowBytes = ((17 * 3 + 3) / 4) * 4
    val one = Multimodal.encodeRawDibAvi(17, 12, Seq(10), 40000L)
    // overwrite the first pixel's three channels (bottom row) with 255
    val moviData = one.length - rowBytes * 12
    one(moviData) = 255.toByte; one(moviData + 1) = 255.toByte
    one(moviData + 2) = 255.toByte
    val m = Multimodal.decodeAviFrames(one)
    val want = (10.0 * (17 * 12 - 1) + 255.0) / (17 * 12)
    assert(m.size == 1 && math.abs(m.head._4 - want) < 1e-4)
    // truncation terminates under the malformed-size guards
    assert(Multimodal.decodeAviFrames(java.util.Arrays.copyOf(avi, avi.length / 2)).length <= grays.length)
    // an MJPEG container (no strl header) is untouched by the DIB path
    val mj = Multimodal.encodeMjpegAvi(24, 16, Seq(50), 40000L)
    assert(Multimodal.decodeAviFrames(mj).map(_._4) == Seq(50.0))
  }

  test("audio frames: square-wave RMS is the amplitude, ZCR matches the offset formula") {
    val a: Short = 3000
    val h = 3
    val wav = Multimodal.encodeSquareWav(8000, 96, a, h)
    val frames = Multimodal.decodeWavFrames(wav, frameSize = 32)
    assert(frames.map(_._1) == Seq(0, 1, 2))
    assert(frames.forall(_._2 == a.toDouble), "constant |x| = amplitude exactly")
    frames.foreach { case (f, _, zcr) =>
      val o = 32 * f
      val want = math.round(((o + 31) / h - o / h).toDouble / 31 * 1e6) / 1e6
      assert(zcr == want, s"frame $f: $zcr vs $want")
    }
    // a constant signal never crosses zero
    val const = Multimodal.encodeWav(8000, 64, 500.toShort)
    val cf = Multimodal.decodeWavFrames(const, 32)
    assert(cf.size == 2 && cf.forall(_._3 == 0.0) && cf.forall(_._2 == 500.0))
    // the tail partial window is dropped, garbage decodes to nothing
    assert(Multimodal.decodeWavFrames(Multimodal.encodeWav(8000, 40, 1.toShort), 32).size == 1)
    assert(Multimodal.decodeWavFrames("nope".getBytes("UTF-8"), 32).isEmpty)
  }

  test("multimodal resize and frame sampling keep batch plumbing intact") {
    val media = Multimodal.mediaFromDocuments(spark, docs)
    val resized = Multimodal.resize(media, 32, 32)
    assert(resized.count() == docs.count())
    assert(resized.filter(r => r.media.length > math.max(1, 32 * 32 / 64)).count() == 0)
    val frames = Multimodal.sampleFrames(media, everyN = 4)
    val videos = media.filter(_.format == "video").count()
    assert(frames.select("doc_id").distinct().count() == videos)
    assert(frames.filter(f => f.frame_idx % 4 != 0).count() == 0)
  }

  test("bloom-prefiltered ngram overlap equals the exact posting join") {
    val corpus = docs.filter(col("doc_id") % 17 =!= 0)
    val ref = docs.filter(col("doc_id") % 17 === 0)
    val exact = Dedup.ngramOverlap(corpus, ref, n = 13)
    val bloomed = Dedup.ngramOverlapBloom(corpus, ref, n = 13)
    assert(exact.exceptAll(bloomed).count() == 0, "bloom dropped a true match")
    assert(bloomed.exceptAll(exact).count() == 0, "a bloom false positive survived the exact join")
    // also at an aggressive fpp: false negatives are structurally impossible
    val sloppy = Dedup.ngramOverlapBloom(corpus, ref, n = 13, fpp = 0.5)
    assert(exact.exceptAll(sloppy).count() == 0)
    assert(sloppy.exceptAll(exact).count() == 0)
  }

  test("duplicate spans: counts match a hand-built corpus") {
    import spark.implicits._
    val shared = (1 to 13).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, s"$shared tail one"),
      (2L, s"lead $shared"),
      (3L, "completely different words here that never repeat at all exactly"),
      (4L, s"$shared $shared")
    ).toDF("doc_id", "text")
    // the exact 13-gram `shared` occurs in docs 1, 2 and 4 (doc 4 contains
    // it twice: the windows starting at words 1 and 14)
    val spans = Dedup.duplicateSpans(df, n = 13, minDocs = 2)
      .as[(String, Long, Long)].collect()
    val row = spans.find(_._1 == shared)
    assert(row.isDefined, "shared 13-gram missing")
    assert(row.get._2 == 3, s"expected 3 docs, got ${row.get._2}")
    assert(row.get._3 == 4, s"expected 4 occurrences, got ${row.get._3}")
  }

  test("vocabulary: term_freq >= doc_freq and hand-checked counts") {
    import spark.implicits._
    val df = Seq((1L, "a b a"), (2L, "a c"), (3L, "")).toDF("doc_id", "text")
    val v = TextAnalysis.vocabulary(df).as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(v("a") == (2L, 3L) && v("b") == (1L, 1L) && v("c") == (1L, 1L))
    val corpus = TextAnalysis.vocabulary(docs)
    assert(corpus.filter(col("term_freq") < col("doc_freq")).count() == 0)
  }

  test("span removal cuts exactly the covered words of a hand-built corpus") {
    import spark.implicits._
    val shared = (1 to 13).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, s"$shared tail one"),
      (2L, s"lead $shared"),
      (3L, "completely different words here that never repeat at all exactly"),
      (4L, "tiny shared doc"),
      (5L, "tiny shared doc")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(df, n = 13, minDocs = 2)
      .as[(Long, String, Int, Int)].collect().map(r => r._1 -> r).toMap
    // docs 1/2: the shared 13-gram is cut, the non-covered words survive
    assert(out(1L)._2 == "tail one" && out(1L)._4 == 13)
    assert(out(2L)._2 == "lead" && out(2L)._4 == 13)
    // untouched doc passes through verbatim with zero removed
    assert(out(3L)._2 == "completely different words here that never repeat at all exactly")
    assert(out(3L)._4 == 0)
    // short identical docs (one truncated gram) are removed entirely,
    // and n_removed is clamped to the real word count
    assert(out(4L)._2 == "" && out(4L)._3 == 3 && out(4L)._4 == 3)
    assert(out(5L)._2 == "")
  }

  test("contaminated-span removal cuts exactly the reference-covered words") {
    import spark.implicits._
    val bench = (1 to 13).map(i => s"q$i").mkString(" ")
    val corpus = Seq(
      (1L, s"intro $bench outro words"),       // benchmark quoted mid-doc
      (2L, "clean document with no benchmark content inside it at all ok"),
      (3L, s"$bench"),                         // pure benchmark copy → emptied
      (4L, s"alpha beta $bench $bench gamma")  // two occurrences, one doc
    ).toDF("doc_id", "text")
    val ref = Seq((100L, s"some benchmark prompt $bench answer text"))
      .toDF("doc_id", "text")
    val out = Dedup.removeContaminatedSpans(corpus, ref, n = 13)
      .as[(Long, String, Int, Int)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == "intro outro words" && out(1L)._4 == 13)
    assert(out(2L)._2 == "clean document with no benchmark content inside it at all ok"
      && out(2L)._4 == 0)
    assert(out(3L)._2 == "" && out(3L)._4 == 13)
    assert(out(4L)._2 == "alpha beta gamma" && out(4L)._4 == 26)
    // disjoint reference → identity rewrite
    val id = Dedup.removeContaminatedSpans(corpus,
      Seq((100L, "totally unrelated reference material")).toDF("doc_id", "text"))
    assert(id.filter(col("n_removed") =!= 0).count() == 0)
  }

  test("span removal is consistent with the duplicate-span census") {
    // every document containing a census gram loses words; all others
    // keep their exact text (round-trips the corpus)
    val out = Dedup.removeDuplicateSpans(docs, n = 13, minDocs = 2)
    val joined = docs.select(col("doc_id"), col("text")).join(out, "doc_id")
    assert(joined.filter(col("n_removed") === 0 && col("clean_text") =!= col("text"))
      .count() == 0, "untouched docs must round-trip")
    assert(joined.filter(col("n_removed") > 0 && col("clean_text") === col("text"))
      .count() == 0, "cut docs must change")
    val nCut = out.filter(col("n_removed") > 0).count()
    assert(nCut > 0, "sf0.01 corpus has known duplicated spans")
  }

  test("frequency stats match hand-computed corpus frequencies") {
    import spark.implicits._
    val df = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = TextAnalysis.frequencyStats(df)
      .as[(Long, Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    // vocab: a → tf 3 (df 2), b → tf 1 (df 1), c → tf 1 (df 1)
    assert(out(1L) == ((1L, 3L, 7L, 2.333333, 0.333333)))
    assert(out(2L) == ((2L, 2L, 4L, 2.0, 0.5)))
    // corpus-level sanity: mean_tf ≥ 1 everywhere, rare_frac ∈ [0,1]
    val c = TextAnalysis.frequencyStats(docs)
    assert(c.filter(col("mean_tf") < 1.0).count() == 0)
    assert(c.filter(col("rare_frac") < 0.0 || col("rare_frac") > 1.0).count() == 0)
  }

  test("pq topk: k dense ranks per query, scores in range, deterministic") {
    val q = emb.filter(col("vec_id") < 10)
    val out = Similarity.pqTopK(emb, q, k = 5, dim = 64).cache()
    assert(out.count() == 50)
    assert(out.groupBy("query_id").count().filter(col("count") =!= 5).count() == 0)
    assert(out.filter(col("cos") < -1.000001 || col("cos") > 1.000001).count() == 0)
    val again = Similarity.pqTopK(emb, q, k = 5, dim = 64)
    assert(out.exceptAll(again).count() == 0 && again.exceptAll(out).count() == 0)
    out.unpersist()
  }

  test("ivf-pq with full-coverage refine equals plain ivf exactly") {
    // refine large enough that the ADC short-list covers every probed
    // cell member → the exact re-rank over the same candidate set must
    // reproduce ivfTopK verbatim; proves the composition (shared cells,
    // shared probes, refine plumbing) loses nothing vs its parts.
    val q = emb.filter(col("vec_id") < 10)
    val ivf = Similarity.ivfTopK(emb, q, k = 5, dim = 64)
    val ivfpq = Similarity.ivfPqTopK(emb, q, k = 5, dim = 64, refine = 1000)
    assert(ivfpq.exceptAll(ivf).count() == 0 && ivf.exceptAll(ivfpq).count() == 0)
  }

  test("ivf-pq adc recovers a useful share of true nearest neighbors") {
    val q = emb.filter(col("vec_id") < 20)
    val truth = Similarity.bruteForceTopK(emb, q, k = 1)
      .select(col("query_id"), col("neighbor_id").as("true_nn"))
    val out = Similarity.ivfPqTopK(emb, q, k = 5, dim = 64)
      .select(col("query_id"), col("neighbor_id"))
    val hits = truth.join(out, "query_id")
      .filter(col("true_nn") === col("neighbor_id")).count()
    // two stacked approximations (3/16 cells probed + ADC scores) on
    // near-isotropic synthetic embeddings — the worst case for both;
    // recovering a quarter of true top-1s in the top-5 is the floor.
    assert(hits >= 5, s"ivf-pq recall too low: $hits/20")
  }

  test("pq with full-coverage refine equals brute force exactly") {
    // refine large enough that the ADC short-list covers the whole
    // corpus → the exact re-rank IS brute force; proves the refine
    // plumbing (short-list join + re-rank) loses nothing
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
    val refined = Similarity.pqTopK(emb, q, k = 5, dim = 64, refine = 200)
    assert(refined.exceptAll(exact).count() == 0 && exact.exceptAll(refined).count() == 0)
  }

  test("pq adc recall: training the codebook beats the raw seed") {
    val q = emb.filter(col("vec_id") < 10)
    val truth = Similarity.bruteForceTopK(emb, q, k = 1)
      .select(col("query_id"), col("neighbor_id").as("true_nn"))
    def recall(adc: org.apache.spark.sql.DataFrame): Long = truth.join(adc,
      truth("query_id") === adc("query_id") && col("true_nn") === col("neighbor_id"))
      .count()
    val seeded = recall(Similarity.pqTopK(emb, q, k = 20, dim = 64)
      .select(col("query_id"), col("neighbor_id")))
    val trained = recall(Similarity.pqTopK(emb, q, k = 20, dim = 64, trainIters = 3)
      .select(col("query_id"), col("neighbor_id")))
    assert(trained >= seeded, s"training degraded recall: $trained < $seeded")
    // the synthetic embeddings are near-isotropic — PQ's worst case
    // (no cluster structure to exploit); 4% of the corpus as short-list
    // recovering half the true top-1s is the expected regime, and the
    // full-coverage-refine test above pins exactness of the plumbing
    assert(trained >= 5, s"trained ADC top-20 recovered only $trained/10 true top-1")
  }

  test("incremental dedup: empty archive degenerates to plain keepers") {
    val none = docs.filter(col("doc_id") < 0)
    val inc = Dedup.incrementalKeepers(none, docs).select("doc_id")
    val plain = Dedup.minhashKeepers(docs).select("doc_id")
    assert(inc.exceptAll(plain).count() == 0 && plain.exceptAll(inc).count() == 0)
  }

  test("incremental dedup: no emitted doc is a near-dup of the archive or the batch") {
    val existing = docs.filter(col("doc_id") % 3 === 0)
    val delta = docs.filter(col("doc_id") % 3 =!= 0)
    val out = Dedup.incrementalKeepers(existing, delta)
    // nothing emitted collides with the immutable archive...
    assert(Dedup.contaminationPairs(existing, out).count() == 0)
    // ...and the emitted set is internally dedup'd: any qualifying pair
    // would have been an edge of one component, which keeps one doc
    assert(Dedup.minhashDedupPairs(out).count() == 0)
    // replaying the archive as the batch emits nothing
    assert(Dedup.incrementalKeepers(existing, existing).count() == 0)
  }

  test("chunking: hand-checked starts, tail, and full coverage") {
    import spark.implicits._
    val df = Seq((1L, (1 to 10).map(i => s"w$i").mkString(" ")),
      (2L, "short doc")).toDF("doc_id", "text")
    val out = TextAnalysis.chunk(df, size = 4, stride = 2)
      .as[(Long, Int, String, Int)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._2) }
    // doc 1: starts 0,2,4,6 — last chunk is the exact tail
    assert(out(1L).map(_._3).toSeq == Seq(
      "w1 w2 w3 w4", "w3 w4 w5 w6", "w5 w6 w7 w8", "w7 w8 w9 w10"))
    assert(out(1L).map(_._4).toSeq == Seq(4, 4, 4, 4))
    // a doc shorter than `size` yields one (short) chunk
    assert(out(2L).map(_._3).toSeq == Seq("short doc") && out(2L).head._4 == 2)
    // corpus-level: every word position lands in at least one chunk
    val docs01 = docs
    val chunks = TextAnalysis.chunk(docs01, size = 40, stride = 20)
    val perDoc = chunks.groupBy("doc_id")
      .agg(sum("n_words").as("covered"),
        max(col("chunk_idx") * 20 + col("n_words")).as("max_end"))
    val joined = docs01.select(col("doc_id"),
        size(split(col("text"), "\\s+")).as("n")).join(perDoc, "doc_id")
    // overlap ⇒ covered ≥ n
    assert(joined.filter(col("covered") < col("n")).count() == 0)
    // tail invariant: the furthest chunk end is EXACTLY the document
    // length (full chunks end at idx·stride+size ≤ n; the tail chunk
    // ends at mx·stride + its word count = n) — a sequence bound one
    // stride short would drop the tail and fail this
    assert(joined.filter(col("max_end") =!= col("n")).count() == 0)
  }

  test("diversity sample: per-cell cap holds, deterministic, trained variant valid") {
    val out = Similarity.diversitySample(emb, nCells = 16, perCell = 10, dim = 64)
      .cache()
    assert(out.groupBy("cell").count().filter(col("count") > 10).count() == 0)
    assert(out.count() <= 160 && out.count() > 0)
    // kept ids are real corpus ids
    assert(out.select("vec_id").exceptAll(emb.select("vec_id")).count() == 0)
    val again = Similarity.diversitySample(emb, nCells = 16, perCell = 10, dim = 64)
    assert(out.exceptAll(again).count() == 0 && again.exceptAll(out).count() == 0)
    out.unpersist()
    val trained = Similarity.diversitySample(emb, nCells = 16, perCell = 10,
      dim = 64, trainIters = 2)
    assert(trained.groupBy("cell").count().filter(col("count") > 10).count() == 0)
  }

  test("chunking invariants hold across size/stride configurations") {
    import spark.implicits._
    val doc = (1 to 23).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, doc)).toDF("doc_id", "text")
    for ((size, stride) <- Seq((8, 8), (8, 4), (5, 2), (23, 23), (40, 10))) {
      val chunks = TextAnalysis.chunk(df, size, stride)
        .as[(Long, Int, String, Int)].collect().sortBy(_._2)
      val words = doc.split(" ")
      // every chunk is EXACTLY the slice [idx·stride, idx·stride+size)
      chunks.foreach { case (_, idx, text, n) =>
        val expect = words.slice(idx * stride, idx * stride + size)
        assert(text == expect.mkString(" ") && n == expect.length,
          s"chunk $idx wrong at ($size,$stride): $text")
      }
      // chunk indexes are dense from 0 and the tail reaches the last word
      assert(chunks.map(_._2).toSeq == chunks.indices.toSeq)
      assert(chunks.map { case (_, idx, _, n) => idx * stride + n }.max == 23,
        s"tail not covered at ($size,$stride)")
    }
  }

  test("hash-composed shingles preserve the text shingles' equality classes") {
    // distinct-count equality per document AND corpus-wide proves the
    // word-hash window composition neither merges distinct grams
    // (collision) nor splits equal ones — the exact guarantee every
    // hashed-shingle consumer (minhash, decon, spans) relies on
    import spark.implicits._
    for (n <- Seq(1, 3, 13)) {
      val t = docs.select(col("doc_id"),
          Dedup.shingles(col("text"), n).as("_ts"))
        .select(col("doc_id"), size(col("_ts")).as("n_text"))
      val h = docs.select(col("doc_id"),
          graft.operators.Dedup.wordHashes(col("text")).as("_wh"))
        .select(col("doc_id"),
          size(Dedup.hashedShinglesFromHashes(col("_wh"), n)).as("n_hash"))
      val joined = t.join(h, "doc_id")
      assert(joined.filter(col("n_text") =!= col("n_hash")).count() == 0,
        s"n=$n: per-doc distinct shingle counts diverge")
      val textDistinct = docs
        .select(explode(Dedup.shingles(col("text"), n)).as("g")).distinct().count()
      val hashDistinct = docs
        .select(Dedup.wordHashes(col("text")).as("_wh"))
        .select(explode(Dedup.hashedShinglesFromHashes(col("_wh"), n)).as("g"))
        .distinct().count()
      assert(textDistinct == hashDistinct, s"n=$n: corpus-wide classes diverge")
    }
  }

  test("sparse cosine: identical docs hit 1, disjoint docs never pair, maxDf drops stopwords") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "delta epsilon zeta"), (4L, "alpha beta delta"),
      (5L, "the the the")).toDF("doc_id", "text")
    val pairs = TextAnalysis.sparseCosinePairs(corpus, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) == 1.0, "identical docs must reach cosine 1")
    assert(!pairs.contains((1L, 3L)), "token-disjoint docs share no posting")
    assert(!pairs.contains((1L, 5L)))
    // partial overlap lands strictly between
    assert(pairs((1L, 4L)) > 0 && pairs((1L, 4L)) < 1)
    // symmetric overlaps score identically
    assert(pairs((1L, 4L)) == pairs((2L, 4L)))
    // maxDf = 1 drops every shared token → no pairs survive at all
    assert(TextAnalysis.sparseCosinePairs(corpus, 0.0, maxDf = 1).count() == 0)
  }

  test("bigram perplexity: hand-exact tiny corpus, single-token docs backoff to unigram") {
    import spark.implicits._
    val corpus = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "a"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramPerplexity(corpus)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    // unigrams: a:4 b:2 c:1, T=7 V=3 → p_uni(a)=5/10, b=3/10, c=2/10
    // bigrams: (a,b):2 (a,c):1, history c1(a)=3
    val pAB = 0.7 * 2.0 / 3.0 + (1 - 0.7) * (3.0 / 10)
    val pAC = 0.7 * 1.0 / 3.0 + (1 - 0.7) * (2.0 / 10)
    // 6-dp comparisons tolerate the half-ulp boundary where HALF_UP on
    // the exact decimal differs from double-arithmetic rounding
    def approx(a: Double, b: Double): Boolean = math.abs(a - b) <= 6e-7
    val sDoc1 = r6(math.log(5.0 / 10)) + r6(math.log(pAB))
    assert(out(1L)._1 == 2L)
    assert(approx(out(1L)._2, -sDoc1 / 2), s"${out(1L)._2} vs ${-sDoc1 / 2}")
    assert(out(1L) == out(2L), "identical docs score identically")
    val sDoc3 = r6(math.log(5.0 / 10)) + r6(math.log(pAC))
    assert(approx(out(3L)._2, -sDoc3 / 2), s"${out(3L)._2} vs ${-sDoc3 / 2}")
    // the rarer continuation is more surprising
    assert(out(3L)._2 > out(1L)._2)
    // a single-token doc is pure unigram backoff
    assert(out(4L)._1 == 1L)
    assert(approx(out(4L)._2, -r6(math.log(5.0 / 10))))
    // ppl = exp(avg_nll), 3-dp rounded: compare at that resolution
    assert(math.abs(out(4L)._3 - math.exp(out(4L)._2)) <= 5.1e-4)
  }

  test("naive bayes: separable corpus classifies, OOV skipped, cap and ties deterministic") {
    import spark.implicits._
    val train = Seq(
      (1L, "a", "x x y"), (2L, "a", "x y y"),
      (3L, "b", "z z w"), (4L, "b", "z w w"))
      .toDF("doc_id", "cls", "text")
    val test = Seq(
      (10L, "x y"), (11L, "z"), (12L, "q q q"), (13L, "x z"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.naiveBayesClassify(train, test, "cls")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(10L) == "a")
    assert(out(11L) == "b")
    assert(!out.contains(12L), "an all-OOV document yields no row")
    // "x z": symmetric evidence, equal priors — the score tie breaks
    // toward the lexicographically smaller class
    assert(out(13L) == "a")

    // vocab cap 1 keeps only the most frequent train token (ties by
    // token asc: x,y,z,w all appear 3 times → 'w' wins asc? no: cap
    // orders by count DESC then token ASC — all tie at 3, 'w' is kept)
    val capped = TextAnalysis.naiveBayesClassify(train, test, "cls",
      vocabCap = 1)
    val cappedOut = capped.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // only docs containing 'w' can score — none of the test docs do
    assert(cappedOut.isEmpty)

    // training docs classify as their own class on this separable corpus
    val self = TextAnalysis.naiveBayesClassify(train, train.drop("cls"), "cls")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(self == Map(1L -> "a", 2L -> "a", 3L -> "b", 4L -> "b"))
  }

  test("logistic quality classifier: GD learns the separator, deterministic") {
    import spark.implicits._
    // separable toy corpus: "good" docs are long English-looking text,
    // "bad" docs are short punctuation noise
    def good(i: Long) = (i, ("the quick brown fox and the lazy dog " * 8).trim, "en")
    def bad(i: Long) = (i, "@@ ## !! %% ^^", "xx")
    val docs = ((0L until 8L).map(good) ++ (8L until 16L).map(bad))
      .map { case (i, t, l) => (i, t, l, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "n_chars")
    val train = docs.filter(col("doc_id") % 4 =!= 0)
    val test = docs.filter(col("doc_id") % 4 === 0)
    val out = TextAnalysis.logisticQuality(train, test,
      label = col("lang") === "en", iters = 8)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    // good docs score strictly above bad docs; 8 iterations separate them
    val goodP = Seq(0L, 4L).map(out(_)._1)
    val badP = Seq(8L, 12L).map(out(_)._1)
    assert(goodP.min > badP.max,
      s"good docs must outscore bad: good=$goodP bad=$badP")
    assert(out(0L)._2 && !out(12L)._2)
    // decimal-grid training is bit-deterministic across reruns and
    // partitionings
    val again = TextAnalysis.logisticQuality(train.repartition(7), test,
      label = col("lang") === "en", iters = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(again == out.view.mapValues(_._1).toMap)
  }

  test("tfidf keywords: rarer tokens outrank common ones at equal tf") {
    import spark.implicits._
    // 'rare' appears in 1 doc, 'common' in all 3; equal tf inside doc 1
    val df = Seq((1L, "rare common"), (2L, "common x"), (3L, "common y"))
      .toDF("doc_id", "text")
    val top = TextAnalysis.tfidfKeywords(df, k = 1)
      .filter(col("doc_id") === 1).select("token").as[String].head()
    assert(top == "rare")
    val all = TextAnalysis.tfidfKeywords(docs, k = 3)
    assert(all.groupBy("doc_id").count().filter(col("count") > 3).count() == 0)
  }
}
