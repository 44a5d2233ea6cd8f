package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.util.Random

import graft.functions.{DotVec, NativeFunctions}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query
  * set against a single scan of the corpus; per-row math stays inside
  * whole-stage codegen via `zip_with`/`aggregate`. Cost is O(|Q|·N·dim)
  * with no shuffle of the corpus, so it scales to any N for bounded |Q|.
  *
  * Scale path: random-hyperplane LSH — sign-bit signatures bucket the
  * corpus once (one narrow shuffle of (bucket, id)); queries probe only
  * their bucket. Recall/latency traded via `nBits`/`nTables`.
  */
object Similarity {

  /** Sequential-order dot product, matching DuckDB's list_dot_product on
    * DOUBLE[] (both fold left-to-right in double, so results are
    * bit-identical and safe to hash after rounding). Codegen'd native
    * expression, built directly — no session registration needed.
    */
  def dot(a: Column, b: Column): Column = NativeFunctions.call(DotVec.FnName, a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))

  /** Brute-force top-k neighbors for the query vectors (queries must be
    * small — they are broadcast). Output: (query_id, rank, neighbor_id,
    * cos).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("q2", dot(col("qv"), col("qv"))))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("c2", dot(col("cv"), col("cv")))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / sqrt(col("q2") * col("c2")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cos"))
  }

  /** Sign-quantized binary code: bit `i` set iff `vec[i] > 0`, packed
    * into ⌈dim/64⌉ longs — a 32× (float) compression of the vector. The
    * standard binary-quantization ANN primitive: Hamming distance between
    * codes approximates angular distance, and `bit_count(xor)` over
    * packed words is the cheapest distance evaluation there is (pure
    * codegen'd integer ops, no floating point).
    */
  def binaryCode(vec: Column, dim: Int): Column = {
    val words = (dim + 63) / 64
    transform(sequence(lit(0), lit(words - 1)), w =>
      aggregate(sequence(lit(0), lit(63)), lit(0L), (acc, j) => {
        val idx = w * lit(64) + j // 0-based dim index
        val bit = when(idx < lit(dim) &&
            element_at(vec, (idx + lit(1)).cast("int")) > lit(0),
          call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))
        acc.bitwiseOR(bit)
      }))
  }

  /** Hamming distance between two packed binary codes. */
  def hamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x).cast("int")

  /** Binary-quantization ANN: rank the corpus per query by packed-code
    * Hamming distance (integer-only scan over 32×-compressed codes),
    * keep a `k × oversample` shortlist, then exact-cosine rerank ONLY the
    * shortlist. Two-phase shortlist, `TakeOrderedAndProject`-style: the
    * scan stage first truncates to the `k·oversample` best per
    * (query, scan-partition) — a window keyed on `spark_partition_id()`,
    * so the exchange feeding it is BALANCED (parallelism = queries ×
    * partitions) and carries only `(query_id, neighbor_id, hamming)`,
    * codes and vectors projected away. Only then does the global
    * per-query ranking run, over O(partitions × k·oversample) rows per
    * query instead of the whole corpus — the single-reducer-per-query
    * corpus-sized partition the one-window shape degenerates to at scale
    * can't occur. Every true global-top row is inside its own
    * partition's top `k·oversample`, so the two-phase shortlist is
    * exactly the one-phase one. Full vectors rejoin by id for the
    * O(k·oversample) rerank, the same shortlist-then-verify shape as the
    * PQ/IVF stack. Output: (query_id, rank, neighbor_id, hamming, cos).
    */
  def binaryTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      oversample: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    def coded(df: DataFrame, id: String, code: String): DataFrame =
      df.select(col(idCol).as(id),
        binaryCode(col(vecCol), dim).as(code))
    val q = broadcast(coded(queries, "query_id", "qc"))
    val c = coded(corpus, "neighbor_id", "cc")
    val localW = Window.partitionBy(col("query_id"), col("_pid"))
      .orderBy(col("hamming"), col("neighbor_id"))
    val shortW = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("neighbor_id"))
    val shortlist = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming", hamming(col("qc"), col("cc")))
      .withColumn("_pid", spark_partition_id())
      .select("query_id", "neighbor_id", "hamming", "_pid")
      .withColumn("_lr", row_number().over(localW))
      .filter(col("_lr") <= k * oversample)
      .withColumn("_hr", row_number().over(shortW))
      .filter(col("_hr") <= k * oversample)
      .select("query_id", "neighbor_id", "hamming")
    val vecs = corpus.select(col(idCol), col(vecCol))
    val rankW = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    shortlist
      .join(broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))), "query_id")
      .join(vecs.toDF("neighbor_id", "cv"), "neighbor_id")
      .withColumn("cos", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("hamming"), round(col("cos"), 6).as("cos"))
  }

  /** Seeded Gaussian RANDOM PROJECTION (Johnson–Lindenstrauss): project
    * `dim`-d embeddings to `outDim` components
    * `proj_j = (v · g_j) / sqrt(outDim)` using the deterministic seeded
    * plane generator the LSH family shares — the standard
    * dimensionality-reduction step before ANN indexing or clustering at
    * corpus scale (downstream indexes then carry outDim/dim of the
    * bytes). A pure scan-stage expression: nothing shuffles, no state.
    * Components are rounded to 6 dp for cross-engine reproducibility.
    */
  def randomProject(df: DataFrame, dim: Int, outDim: Int, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(outDim >= 1 && dim >= 1, "dims must be positive")
    val planes = hyperplanes(dim, outDim, seed)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val v = col(vecCol).cast("array<double>")
    val comps = planes.zipWithIndex.map { case (pl, j) =>
      round(dot(v, typedLit(pl.toSeq)) * lit(scale), 6).as(s"p$j")
    }
    df.select(col(idCol) +: comps.toSeq: _*)
  }

  /** Per-dimension (lo, hi) calibration for scalar quantization — ONE
    * distributed aggregate over the corpus; O(dim) rows return to the
    * driver (the same bounded-collect posture as the IVF centroids).
    */
  private[graft] def sqCalibrate(corpus: DataFrame, dim: Int,
      vecCol: String = "embedding"): (Array[Double], Array[Double]) = {
    val rows = corpus
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("d", "x")))
      .groupBy("d").agg(min("x").as("lo"), max("x").as("hi"))
      .collect()
    val lo = new Array[Double](dim)
    val hi = new Array[Double](dim)
    rows.foreach { r =>
      val d = r.getInt(0)
      if (d < dim) { lo(d) = r.getDouble(1); hi(d) = r.getDouble(2) }
    }
    (lo, hi)
  }

  /** SQ8 scalar-quantized code: per-dimension affine quantization of
    * the vector against the calibrated [lo, hi] range —
    * `round((x − lo_d) / step_d)` clamped to [0, 255] with
    * `step_d = (hi_d − lo_d)/255` (a degenerate dimension codes 0) — a
    * 4× (float) compression that, unlike the sign-bit code, preserves
    * magnitude. Codes are integral doubles so the ADC scan reuses the
    * native dot expression.
    */
  def sqCode(vec: Column, lo: Array[Double], hi: Array[Double]): Column = {
    val loLit = typedLit(lo.toSeq)
    val stepLit = typedLit(lo.indices.map(d => (hi(d) - lo(d)) / 255.0))
    zip_with(
      zip_with(vec.cast("array<double>"), loLit, (x, l) => x - l),
      stepLit,
      (xm, s) => when(s === lit(0d), lit(0d))
        .otherwise(least(greatest(round(xm / s, 0), lit(0d)), lit(255d))))
  }

  /** Scalar-quantization (SQ8) ANN — the third compression point of the
    * production ladder (binary 32× / PQ ~32× / SQ8 4×, best recall):
    * per-dim calibrated 8-bit codes, an ADC scan that never touches a
    * float vector — `approx_dot(q, decode(code)) = q·lo + code·(q∘step)`,
    * so the per-row work is one dot of the code against a PRE-WEIGHTED
    * query vector (`w = q ∘ step`, computed once per query) plus a
    * per-query constant — then the same two-phase
    * per-(query, scan-partition) `k·oversample` shortlist as
    * [[binaryTopK]] (balanced exchange, no corpus-sized per-query
    * partition at any scale) and an exact-cosine rerank of the
    * shortlist alone. Output: (query_id, rank, neighbor_id, cos).
    */
  def sqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      oversample: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (lo, hi) = sqCalibrate(corpus, dim, vecCol)
    val loLit = typedLit(lo.toSeq)
    val stepLit = typedLit(lo.indices.map(d => (hi(d) - lo(d)) / 255.0))
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("w", zip_with(col("qv"), stepLit, (x, s) => x * s))
      .withColumn("cq", dot(col("qv"), loLit))
      .select("query_id", "w", "cq"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      sqCode(col(vecCol), lo, hi).as("code"))
    val localW = Window.partitionBy(col("query_id"), col("_pid"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    val shortW = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    val shortlist = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", col("cq") + dot(col("code"), col("w")))
      .withColumn("_pid", spark_partition_id())
      .select("query_id", "neighbor_id", "adc", "_pid")
      .withColumn("_lr", row_number().over(localW))
      .filter(col("_lr") <= k * oversample)
      .withColumn("_hr", row_number().over(shortW))
      .filter(col("_hr") <= k * oversample)
      .select("query_id", "neighbor_id")
    val rankW = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    shortlist
      .join(broadcast(queries.select(col(idCol).as("query_id"),
        col(vecCol).as("qv"))), "query_id")
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")),
        "neighbor_id")
      .withColumn("cos", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cos"))
  }

  /** All near-duplicate pairs by cosine ≥ threshold. Exact O(n²) variant
    * for modest corpora / verification; at scale use `lshNearDupPairs`.
    */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // norms once per row, not per pair — the n² term is a single dot
    val a = corpus.select(col(idCol).as("id_a"), col(vecCol).as("va"))
      .withColumn("a2", dot(col("va"), col("va")))
    val b = corpus.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
      .withColumn("b2", dot(col("vb"), col("vb")))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / sqrt(col("a2") * col("b2")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** Deterministic random hyperplanes: `nBits` unit-free normals per
    * table, seeded — same plan on every executor and every run.
    * `private[graft]` so the correctness gate can replay the identical
    * planes as SQL literals in the DuckDB oracle.
    */
  private[graft] def hyperplanes(dim: Int, nBits: Int, seed: Long): Array[Array[Double]] = {
    val r = new Random(seed)
    Array.fill(nBits)(Array.fill(dim)(r.nextGaussian()))
  }

  /** Sign-bit LSH signature (one long per table). */
  def lshSignature(vec: Column, dim: Int, nBits: Int, seed: Long): Column = {
    val planes = hyperplanes(dim, nBits, seed)
    val bits = planes.zipWithIndex.map { case (p, j) =>
      val proj = dot(vec, lit(p))
      when(proj >= 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** LSH-bucketed near-dup pairs: `nTables` independent signatures; a pair
    * is a candidate if any table's full signature matches; candidates are
    * verified with exact cosine. Recall for cos≥t is
    * 1-(1-(1-acos(t)/π)^nBits)^nTables.
    */
  def lshNearDupPairs(corpus: DataFrame, threshold: Double, dim: Int,
      nBits: Int = 12, nTables: Int = 6, seed: Long = 42,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // signatures computed in the scan stage; only (id, table, sig) — three
    // longs per row — enters the bucket join and the candidate distinct,
    // so the nTables-amplified exchanges and the distinct's hash keys
    // never touch a vector. Vectors then rejoin by id: each corpus
    // vector crosses the wire at most once per join side (linear,
    // un-amplified — the standard verification-join shape the MinHash
    // pipeline uses for text), and AQE broadcasts the candidate side
    // when it is small.
    val sigs = corpus.select(
      col(idCol),
      posexplode(array((0 until nTables).map(t =>
        lshSignature(col(vecCol), dim, nBits, seed + t)): _*)))
      .toDF(idCol, "table", "sig")
    val a = sigs.toDF("id_a", "table", "sig")
    val b = sigs.toDF("id_b", "table", "sig")
    val candidates = a.join(b, Seq("table", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val vecs = corpus.select(col(idCol), col(vecCol))
    candidates
      .join(vecs.toDF("id_a", "va"), "id_a")
      .join(vecs.toDF("id_b", "vb"), "id_b")
      .withColumn("cos", cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** Cells ranked by cosine to each centroid, best first (ties: larger
    * cell index first — the reversed ascending struct sort).
    */
  private def cellsRanked(vec: Column, centroids: Array[Array[Double]]): Column = {
    val scored = centroids.zipWithIndex.map { case (cVec, i) =>
      struct(cosine(vec, lit(cVec)).as("s"), lit(i).as("i"))
    }
    reverse(array_sort(array(scored: _*)))
  }

  /** Deterministic centroid seed: the first `k` corpus vectors by id
    * (collecting k×dim doubles to the driver is O(KB)).
    */
  private def seedCentroids(corpus: DataFrame, k: Int,
      idCol: String, vecCol: String): Array[Array[Double]] =
    corpus.orderBy(col(idCol)).select(col(vecCol)).limit(k)
      .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)

  /** Distributed k-means (Lloyd) for IVF centroid training. Each round:
    * assign every vector to its best cell by cosine — a scan-stage
    * projection over broadcast centroid literals, no shuffle of vectors —
    * then update centroids as per-cell means via `dim` sum aggregates
    * (map-side partials; the only shuffle moves k×(dim+1) partial sums
    * per task, never a vector). Centroids live on the driver between
    * rounds (k×dim doubles). Empty cells keep their previous centroid.
    * Deterministic given the id-ordered seed; at 100 TB run the rounds
    * on a sample — assignment quality needs centroid *positions*, not
    * every point's vote.
    */
  def kmeansCentroids(corpus: DataFrame, k: Int, dim: Int, iters: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Double]] = {
    var centroids = seedCentroids(corpus, k, idCol, vecCol)
    for (_ <- 0 until iters) {
      val assigned = corpus.select(col(vecCol).as("v"),
        cellExpr(col(vecCol), centroids).as("cell"))
      val aggs = (0 until dim).map(i => sum(col("v").getItem(i)).as(s"_s$i")) :+
        count(lit(1)).as("_n")
      val next = centroids.map(_.clone())
      assigned.groupBy("cell").agg(aggs.head, aggs.tail: _*).collect().foreach { row =>
        val cell = row.getInt(0)
        val n = row.getLong(dim + 1).toDouble
        next(cell) = Array.tabulate(dim)(i => row.getDouble(i + 1) / n)
      }
      centroids = next
    }
    centroids
  }

  /** Mean cosine distance of every vector to its assigned centroid — the
    * (spherical) k-means objective; must not increase across Lloyd
    * rounds. One scan, no shuffle.
    */
  def kmeansObjective(corpus: DataFrame, centroids: Array[Array[Double]],
      vecCol: String = "embedding"): Double = {
    corpus.select((lit(1.0) -
        cellsRanked(col(vecCol), centroids).getItem(0).getField("s")).as("d"))
      .agg(avg(col("d"))).collect()(0).getDouble(0)
  }

  /** Product-quantization codebook: `m` sub-spaces × `nCodes` centroids of
    * `dim / m` doubles each, seeded from the first `nCodes` corpus vectors
    * by id (the same deterministic sample IVF uses, sliced per sub-space).
    * `private[graft]` so the correctness gate's DuckDB oracle can rebuild
    * the identical codebook straight from the parquet table.
    */
  private[graft] def pqCodebook(corpus: DataFrame, dim: Int, m: Int, nCodes: Int,
      idCol: String, vecCol: String): Array[Array[Array[Double]]] = {
    require(dim % m == 0, "m must divide dim")
    val seeds = seedCentroids(corpus, nCodes, idCol, vecCol)
    require(seeds.length == nCodes, s"corpus has fewer than $nCodes vectors")
    val dsub = dim / m
    Array.tabulate(m)(j => seeds.map(_.slice(j * dsub, (j + 1) * dsub)))
  }

  /** Sequential left-to-right dot of two driver-side vectors — the same
    * fold order as `dot_vec` / DuckDB's `list_dot_product`, so constants
    * derived from codebook entries are bit-identical across engines.
    */
  private def dotSeq(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Product-quantization ANN (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", IEEE TPAMI 2011): each corpus vector is
    * compressed to `m` small codes — per sub-space, the index of the
    * nearest codebook centroid by squared L2 (ties → smaller code) — and
    * queries rank neighbors by the cosine between the query and the
    * vector's codebook RECONSTRUCTION (asymmetric distance: the query
    * side stays exact, only the corpus side is quantized).
    *
    * Why this is the 100 TB path: the scored corpus representation is
    * `m` bytes instead of `dim` floats (8 vs 256 bytes here — a 32×
    * smaller scan), encoding and scoring are both per-row projections
    * over broadcast codebook literals — NO shuffle anywhere — and the
    * optional `refine` stage re-reads full vectors only for the ADC
    * short-list (`k × refine` candidates per query) before exact
    * re-ranking. With `refine = 0` the output is the pure ADC ranking,
    * which the gate's DuckDB oracle replays end-to-end (codebook seed,
    * encoding argmin, reconstruction, ranking) for an exact hash match.
    *
    * The d² argmin uses ‖s‖² − 2·s·c + ‖c‖² with each dot a sequential
    * double fold, and scoring dots the full reconstruction in one fold —
    * both bit-reproducible in DuckDB, unlike a per-sub-space score sum
    * (whose addition order SQL aggregation would not pin).
    */
  /** Per-sub-space nearest-code expression: argmin over the candidate
    * structs (struct ordering compares d2 first, then code index —
    * deterministic ties). d² = ‖s‖² − 2·s·c + ‖c‖², each dot a
    * sequential fold, so DuckDB replays it bit-exactly. Takes the
    * sub-vector and its self-dot as ATTRIBUTES so the nCodes candidates
    * share one slice and one ‖s‖² instead of recomputing both per
    * candidate (a 3× expression-count cut that CollapseProject keeps,
    * multi-referenced non-cheap projections being left alone).
    */
  private def pqCodeExpr(cbJ: Array[Array[Double]], sv: Column, ss: Column): Column = {
    val cands = cbJ.zipWithIndex.map { case (cv, c) =>
      struct((ss - lit(2.0) * dot(sv, lit(cv)) + lit(dotSeq(cv, cv)))
        .as("d2"), lit(c).as("c"))
    }
    array_min(array(cands.toIndexedSeq: _*)).getField("c")
  }

  /** Encode every row to its `m` nearest-code indices (scan-stage only:
    * slices and self-dots are materialized once per sub-space, then the
    * argmin runs over attributes).
    */
  private def pqEncode(corpus: DataFrame, cb: Array[Array[Array[Double]]],
      dsub: Int, idCol: String, vecCol: String, outId: String,
      extra: Seq[(String, Column)] = Nil): DataFrame = {
    val m = cb.length
    val extraCols = extra.map { case (n, c) => c.as(n) }
    val extraRefs = extra.map { case (n, _) => col(n) }
    val withSv = corpus.select((col(idCol).as(outId) +: extraCols) ++
      (0 until m).map(j => slice(col(vecCol), j * dsub + 1, dsub).as(s"_sv$j")): _*)
    val withSs = withSv.select((col(outId) +: extraRefs) ++ (0 until m).flatMap(j =>
      Seq(col(s"_sv$j"), dot(col(s"_sv$j"), col(s"_sv$j")).as(s"_ss$j"))): _*)
    withSs.select((col(outId) +: extraRefs) :+
      array((0 until m).map(j =>
        pqCodeExpr(cb(j), col(s"_sv$j"), col(s"_ss$j"))): _*).as("codes"): _*)
  }

  /** Per-sub-space Lloyd refinement of the PQ codebook: each round
    * re-assigns every sub-vector to its nearest code (scan-stage
    * projection) and recenters codes as per-(sub-space, code) means.
    * The update shuffle carries (sub, code, sub-vector) — at 100 TB run
    * training on a sample, exactly like IVF's `kmeansCentroids`; codes
    * with no members keep their previous centroid.
    */
  def pqTrainCodebook(corpus: DataFrame, dim: Int, m: Int, nCodes: Int,
      iters: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    val dsub = dim / m
    var cb = pqCodebook(corpus, dim, m, nCodes, idCol, vecCol)
    for (_ <- 0 until iters) {
      val pieces = (0 until m).map { j =>
        corpus
          .select(slice(col(vecCol), j * dsub + 1, dsub).as("_sv"))
          .select(col("_sv"), dot(col("_sv"), col("_sv")).as("_ss"))
          .select(lit(j).as("sub"),
            pqCodeExpr(cb(j), col("_sv"), col("_ss")).as("code"),
            col("_sv").cast("array<double>").as("sv"))
      }.reduce(_ unionAll _)
      val aggs = (0 until dsub).map(i => sum(col("sv")(i)).as(s"_s$i")) :+
        count(lit(1)).as("_n")
      val next = cb.map(_.map(_.clone()))
      pieces.groupBy("sub", "code").agg(aggs.head, aggs.tail: _*)
        .collect().foreach { row =>
          val j = row.getInt(0)
          val c = row.getInt(1)
          val n = row.getLong(dsub + 2).toDouble
          next(j)(c) = Array.tabulate(dsub)(i => row.getDouble(i + 2) / n)
        }
      cb = next
    }
    cb
  }

  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      m: Int = 8, nCodes: Int = 16, refine: Int = 0, trainIters: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cb =
      if (trainIters > 0) pqTrainCodebook(corpus, dim, m, nCodes, trainIters, idCol, vecCol)
      else pqCodebook(corpus, dim, m, nCodes, idCol, vecCol)
    val dsub = dim / m
    val enc = pqEncode(corpus, cb, dsub, idCol, vecCol, "neighbor_id")

    // scoring: reconstruct from the broadcast codebook literal ONCE per
    // corpus row — not per (query, neighbor) pair — in the scan stage
    // (the stored representation stays `codes`; decompression is the
    // scan's job, exactly like parquet decoding), then one sequential
    // fold against the exact query vector per pair. A per-query LUT
    // (m·nCodes partial dots) would drop the per-pair cost to O(m) but
    // regroups the addition order — same ranking up to fp ties, no
    // longer bit-replayable — so the oracle-checked form keeps the
    // single fold.
    val cbLit = typedlit(cb.map(_.map(_.toSeq).toSeq).toSeq)
    val xhat = flatten(transform(col("codes"),
      (c, j) => element_at(element_at(cbLit, j + 1), c + 1)))
    val encX = enc
      .withColumn("_xhat", xhat)
      .select(col("neighbor_id"), col("_xhat"),
        dot(col("_xhat"), col("_xhat")).as("_x2"))
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("q2", dot(col("qv"), col("qv"))))
    // one stable output column name (`cos`) regardless of `refine`, so a
    // tuning change can never break downstream column references: at
    // refine=0 `cos` holds the ADC (reconstruction) cosine, otherwise
    // the exact re-ranked cosine.
    val scored = q.join(encX, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        dot(col("qv"), col("_xhat")) / sqrt(col("q2") * col("_x2")))
      .select("query_id", "neighbor_id", "cos")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val adcRanked = scored.withColumn("rank", row_number().over(w))

    if (refine <= 0)
      adcRanked.filter(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cos"), 6).as("cos"))
    else refineShortlist(adcRanked, corpus, queries, k, refine, idCol, vecCol)
  }

  /** Exact re-rank of an ADC short-list: full vectors are read for
    * `k × refine` candidates per query only, then one exact cosine and a
    * per-query ranking window. Shared by `pqTopK` and `ivfPqTopK`.
    */
  private def refineShortlist(adcRanked: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int, refine: Int,
      idCol: String, vecCol: String): DataFrame = {
    val shortlist = adcRanked.filter(col("rank") <= k * refine)
      .select("query_id", "neighbor_id")
    val vecs = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("c2", dot(col("cv"), col("cv")))
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("q2", dot(col("qv"), col("qv"))))
    val exact = shortlist
      .join(vecs, "neighbor_id")
      .join(q, "query_id")
      .withColumn("cos", dot(col("qv"), col("cv")) / sqrt(col("q2") * col("c2")))
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    exact.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cos"))
  }

  /** IVF-PQ — the production ANN composition at 100 TB (coarse IVF cells
    * to prune the corpus, PQ codes to shrink what's scanned): every
    * vector is assigned to its nearest IVF cell AND encoded to `m`
    * codebook codes in one scan; queries probe their `nProbe` best cells
    * and ADC-score ONLY those cells' members against the codebook
    * reconstruction (`m` bytes per row, never the full vector). With
    * `refine > 0` the short-list is exactly re-ranked from full vectors.
    * Both stages reuse the gate-checked pieces (`cellExpr`/`cellsRanked`
    * for IVF, `pqCodebook`/`pqEncode` for PQ), so the deterministic
    * seeded configuration is replayable end-to-end by the SQL oracle.
    * `trainIters`/`pqTrainIters` switch on Lloyd refinement of the cells
    * / codebook respectively (train on a sample at scale).
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      nCells: Int = 16, nProbe: Int = 3, m: Int = 8, nCodes: Int = 16,
      refine: Int = 0, trainIters: Int = 0, pqTrainIters: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centroids =
      if (trainIters > 0) kmeansCentroids(corpus, nCells, dim, trainIters, idCol, vecCol)
      else seedCentroids(corpus, nCells, idCol, vecCol)
    val cb =
      if (pqTrainIters > 0) pqTrainCodebook(corpus, dim, m, nCodes, pqTrainIters, idCol, vecCol)
      else pqCodebook(corpus, dim, m, nCodes, idCol, vecCol)
    val dsub = dim / m

    // cell assignment + PQ encoding in ONE scan-stage projection; the
    // per-row representation entering the join is (id, cell, m codes).
    val enc = pqEncode(corpus, cb, dsub, idCol, vecCol, "neighbor_id",
      extra = Seq("cell" -> cellExpr(col(vecCol), centroids)))
    val cbLit = typedlit(cb.map(_.map(_.toSeq).toSeq).toSeq)
    val xhat = flatten(transform(col("codes"),
      (c, j) => element_at(element_at(cbLit, j + 1), c + 1)))
    val encX = enc
      .withColumn("_xhat", xhat)
      .select(col("neighbor_id"), col("cell"), col("_xhat"),
        dot(col("_xhat"), col("_xhat")).as("_x2"))
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(transform(slice(cellsRanked(col(vecCol), centroids), 1, nProbe),
          s => s.getField("i"))).as("cell"))
      .withColumn("q2", dot(col("qv"), col("qv"))))
    val scored = q.join(encX, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        dot(col("qv"), col("_xhat")) / sqrt(col("q2") * col("_x2")))
      .select("query_id", "neighbor_id", "cos")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val adcRanked = scored.withColumn("rank", row_number().over(w))

    if (refine <= 0)
      adcRanked.filter(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cos"), 6).as("cos"))
    else refineShortlist(adcRanked, corpus, queries, k, refine, idCol, vecCol)
  }

  /** Nearest-cell index expression — the single assignment definition
    * shared by k-means updates, IVF and diversity sampling, so the
    * semantics (tie-break included) can never drift between them.
    */
  private def cellExpr(vec: Column, centroids: Array[Array[Double]]): Column =
    cellsRanked(vec, centroids).getItem(0).getField("i")

  /** Diversity-balanced subsampling — the semantic-curation primitive
    * (SemDeDup-style: cap each semantic region instead of letting the
    * head of the distribution dominate the sample): vectors are
    * assigned to their nearest centroid cell (deterministic id-ordered
    * seed, optionally Lloyd-trained like IVF) and each cell keeps its
    * first `perCell` members by id. Assignment is a scan-stage
    * projection over broadcast centroid literals; the per-cell window
    * shuffles only (id, cell) — no vector ever crosses an exchange.
    */
  def diversitySample(corpus: DataFrame, nCells: Int, perCell: Int, dim: Int,
      trainIters: Int = 0, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val centroids =
      if (trainIters > 0) kmeansCentroids(corpus, nCells, dim, trainIters, idCol, vecCol)
      else seedCentroids(corpus, nCells, idCol, vecCol)
    val assigned = corpus.select(col(idCol),
      cellExpr(col(vecCol), centroids).as("cell"))
    val w = Window.partitionBy(col("cell")).orderBy(col(idCol))
    assigned.withColumn("_rnk", row_number().over(w))
      .filter(col("_rnk") <= perCell)
      .select(col(idCol), col("cell"))
  }

  /** Incremental IVF index refresh — the continuous-ingestion pattern
    * (mirroring `Dedup.incrementalKeepers` for the vector index): the
    * centroids are derived from the ARCHIVE alone and frozen, so a new
    * delta batch is a scan-stage assignment of only |delta| vectors —
    * re-running Lloyd over the archived corpus per batch would dwarf the
    * ingest itself, and moving centroids would invalidate every stored
    * cell assignment. Freezing makes index maintenance append-only:
    * archive rows keep yesterday's cells byte-for-byte (ExtensionSpec
    * asserts this), the union is immediately probeable by [[ivfTopK]]'s
    * machinery, and a periodic full re-train is an explicit offline
    * rebuild, not a side effect of ingest.
    */
  def ivfAssignIncremental(archive: DataFrame, delta: DataFrame,
      nCells: Int = 16, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val centroids = seedCentroids(archive, nCells, idCol, vecCol)
    def assign(df: DataFrame, isDelta: Boolean) =
      df.select(col(idCol), cellExpr(col(vecCol), centroids).as("cell"),
        lit(isDelta).as("is_delta"))
    assign(archive, isDelta = false).unionByName(assign(delta, isDelta = true))
  }

  /** IVF ANN: centroids default to the deterministic id-ordered sample
    * (`trainIters = 0` — the gate-checked configuration, exactly
    * replayable in SQL); `trainIters > 0` refines them with that many
    * distributed Lloyd rounds (`kmeansCentroids`) for tighter cells and
    * better recall at the same `nProbe`. Every corpus vector is assigned
    * to its best cell in the scan stage (no shuffle of vectors); queries
    * probe their `nProbe` nearest cells — the standard recall/latency
    * knob.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      nCells: Int = 16, nProbe: Int = 3, trainIters: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centroids =
      if (trainIters > 0) kmeansCentroids(corpus, nCells, dim, trainIters, idCol, vecCol)
      else seedCentroids(corpus, nCells, idCol, vecCol)

    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      cellExpr(col(vecCol), centroids).as("cell"))
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(transform(slice(cellsRanked(col(vecCol), centroids), 1, nProbe),
          s => s.getField("i"))).as("cell")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    q.join(c, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cos"))
  }
}
