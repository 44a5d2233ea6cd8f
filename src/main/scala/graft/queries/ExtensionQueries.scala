package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Bpe, Dedup, Layout, Multimodal, Similarity, TextAnalysis}

/** The training-data-pipeline extension operators (BASELINE.json north
  * star) exposed through the correctness gate: dedup family, similarity
  * search, text analysis, multimodal plumbing. DuckDB oracles mirror the
  * mathematical definition (e.g. exact all-pairs Jaccard) while the Spark
  * side runs the scalable algorithm (LSH candidates + verification) —
  * so a hash match proves the pruning lost nothing.
  */
object ExtensionQueries {

  private val langCase: String = {
    val best = TextAnalysis.stopwords.map(_._1).map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val whens = TextAnalysis.stopwords.map { case (l, _) =>
      s"WHEN s_$l > 0 AND s_$l = $best THEN '$l'"
    }.mkString(" ")
    s"CASE $whens ELSE 'und' END"
  }

  /** Exact any-shared-13-gram decontamination, shared by decon_ngram13
    * and its bloom-prefiltered twin (identical semantics by construction).
    */
  private val ngram13OverlapOracleSql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(w)-12, 1)),
      |         i -> array_to_string(w[i+1:i+13], ' '))) AS s FROM t),
      |dw AS (SELECT DISTINCT doc_id, unnest(s) AS g FROM sh)
      |SELECT a.doc_id AS corpus_id, b.doc_id AS ref_id, count(*) AS common
      |FROM dw a JOIN dw b ON a.g = b.g
      |WHERE a.doc_id % 17 <> 0 AND b.doc_id % 17 = 0
      |GROUP BY 1, 2 HAVING count(*) >= 1
      |ORDER BY corpus_id, ref_id""".stripMargin.replace("\n", " ")

  private val langScoresSql: String = TextAnalysis.stopwords.map { case (l, ws) =>
    val list = ws.map(w => s"'$w'").mkString("[", ", ", "]")
    s"CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), w -> list_contains($list, w))) AS DOUBLE) / CAST(greatest(len(string_split_regex(lower(text), '\\s+')), 1) AS DOUBLE) AS s_$l"
  }.mkString(", ")

  /** SQL twin of `TextAnalysis.qualityMetrics`' composite score — ONE
    * definition for every oracle that filters on quality (a plain
    * triple-quoted val, so `\s` stays literal; inject only into
    * interpolated oracles, whose own escapes are already doubled).
    */
  private val qualityScoreSql: String =
    """round(CASE WHEN len(string_split_regex(text, '\s+')) BETWEEN 5 AND 10000 THEN 0.4 ELSE 0.0 END
      |      + CASE WHEN CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) <= 0.2 THEN 0.3 ELSE 0.0 END
      |      + CASE WHEN CAST(len(list_filter(string_split_regex(lower(text), '\s+'), w -> list_contains(['the','a','of','and','to','in','is','that','it','for'], w))) AS DOUBLE) / CAST(greatest(len(string_split_regex(lower(text), '\s+')), 1) AS DOUBLE) >= 0.05 THEN 0.3 ELSE 0.0 END, 6)""".stripMargin.replace("\n", " ")

  /** Shared DuckDB CTE chain for the deterministic nearest-centroid
    * assignment (id-ordered seed, cosine score, reversed tie-break) —
    * the SQL twin of Similarity's `cellExpr`, extended by the IVF,
    * diversity-sample and curated-pipeline oracles. Expects an existing
    * CTE `c(vec_id, v)`; emits `cent`, `scored`, `ranked`, `assign`.
    */
  private def assignCtesSql(nCells: Int, centPred: String = "TRUE"): String =
    s"""cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS i, v
       |         FROM (SELECT vec_id, v FROM c WHERE $centPred ORDER BY vec_id LIMIT $nCells)),
       |scored AS (SELECT c.vec_id, cent.i,
       |                  list_dot_product(c.v, cent.v) / sqrt(list_dot_product(c.v, c.v) * list_dot_product(cent.v, cent.v)) AS s
       |           FROM c, cent),
       |ranked AS (SELECT vec_id, i, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, i DESC) AS r FROM scored),
       |assign AS (SELECT vec_id, i AS cell FROM ranked WHERE r = 1)""".stripMargin

  /** DuckDB replay of `Similarity.lshNearDupPairs`: the SAME seeded
    * hyperplanes are emitted as double literals, and `list_dot_product`
    * over DOUBLE[] folds left-to-right exactly like the native `dot_vec`
    * — so sign bits, signatures, candidate buckets and verified cosines
    * are all bit-identical and the approximate path is fully
    * hash-checked, not rows-only.
    */
  private def lshOracleSql(threshold: Double, dim: Int, nBits: Int,
      nTables: Int, seed: Long): String = {
    def arr(p: Array[Double]) = p.mkString("[", ", ", "]")
    val sigSelects = (0 until nTables).map { t =>
      val planes = Similarity.hyperplanes(dim, nBits, seed + t)
      val bits = planes.zipWithIndex.map { case (p, j) =>
        s"(CASE WHEN list_dot_product(v, ${arr(p)}) >= 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $t AS tbl, $bits AS sig FROM c"
    }.mkString(" UNION ALL ")
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sigs AS ($sigSelects),
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |         FROM sigs a JOIN sigs b ON a.tbl = b.tbl AND a.sig = b.sig AND a.vec_id < b.vec_id)
       |SELECT id_a, id_b, round(cos, 6) AS cos FROM (
       |  SELECT cand.id_a, cand.id_b,
       |         list_dot_product(ca.v, cb.v) / sqrt(list_dot_product(ca.v, ca.v) * list_dot_product(cb.v, cb.v)) AS cos
       |  FROM cand JOIN c ca ON ca.vec_id = cand.id_a JOIN c cb ON cb.vec_id = cand.id_b)
       |WHERE cos >= $threshold ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")
  }

  /** DuckDB replay of `Similarity.ivfTopK`: centroids are the first
    * `nCells` corpus vectors by id (same deterministic sample the Spark
    * side collects), cell ranking mirrors the reversed struct sort
    * (score DESC, then cell index DESC on ties), probes take the top
    * `nProbe` cells per query — bit-identical cosines make every step
    * exact.
    */
  private def ivfOracleSql(k: Int, nCells: Int, nProbe: Int,
      queryPred: String): String =
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${assignCtesSql(nCells)},
       |probes AS (SELECT vec_id AS query_id, i AS cell FROM ranked WHERE r <= $nProbe AND $queryPred),
       |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
       |         FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id),
       |topk AS (SELECT query_id, neighbor_id,
       |                list_dot_product(q.v, n.v) / sqrt(list_dot_product(q.v, q.v) * list_dot_product(n.v, n.v)) AS cos
       |         FROM cand JOIN c q ON q.vec_id = cand.query_id JOIN c n ON n.vec_id = cand.neighbor_id)
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, round(cos, 6) AS cos FROM (
       |  SELECT query_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM topk)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin.replace("\n", " ")

  val all: Seq[Q] = Seq(

    // ---- deduplication ----

    Q("dedup_exact",
      (s, d) => Dedup.exact(Tables.documents(s, d))
        .select("keeper_id", "n_copies").orderBy("keeper_id"),
      Some("""SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
             |FROM documents GROUP BY text ORDER BY keeper_id""".stripMargin.replace("\n", " ")),
      headline = true),

    Q("dedup_exact_norm",
      (s, d) => Dedup.exactNormalized(Tables.documents(s, d))
        .select("keeper_id", "n_copies").orderBy("keeper_id"),
      Some("""SELECT min(doc_id) AS keeper_id, count(*) AS n_copies FROM documents
             |GROUP BY trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))
             |ORDER BY keeper_id""".stripMargin.replace("\n", " "))),

    // Bloom-prefiltered exact delta dedup — the 100 TB continuous-
    // ingestion shape where the archive's digest set can't broadcast
    // exactly: archive digests fold into a Bloom filter (bits cross
    // the driver, not rows), a bloom MISS is provably new, and only
    // HITS are exact-confirmed against the archive. No false negatives
    // + exact confirm ⇒ identical to the plain anti-join the oracle
    // computes.
    Q("dedup_bloom_delta",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.exactDeltaKeepers(
            docs.filter(col("doc_id") % 3 === 0),
            docs.filter(col("doc_id") % 3 =!= 0))
          .select("keeper_id", "n_copies").orderBy("keeper_id")
      },
      Some("""WITH fresh AS (
             |  SELECT doc_id, text FROM documents
             |  WHERE doc_id % 3 <> 0
             |    AND text NOT IN (SELECT text FROM documents WHERE doc_id % 3 = 0))
             |SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
             |FROM fresh GROUP BY text ORDER BY keeper_id""".stripMargin.replace("\n", " "))),

    // MinHash+LSH candidates, exact-verified — the oracle recomputes ALL
    // word-Jaccard pairs ≥ 0.8 the O(n²) way, so a match proves the LSH
    // pruning had no false negatives on this corpus.
    Q("dedup_minhash",
      (s, d) => Dedup.minhashDedupPairs(Tables.documents(s, d), threshold = 0.8)
        .orderBy("id_a", "id_b"),
      Some("""WITH dw AS (SELECT DISTINCT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents),
             |cnt AS (SELECT doc_id, count(*) AS n FROM dw GROUP BY doc_id),
             |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
             |          FROM dw a JOIN dw b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |       round(CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE), 6) AS jaccard
             |FROM pairs JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id
             |WHERE CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE) >= 0.8
             |ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")),
      headline = true),

    // exact inverted-index all-pairs on word sets — same oracle math,
    // different (shuffle-heavy exact) algorithm.
    Q("dedup_jaccard_exact",
      (s, d) => Dedup.jaccardPairs(Tables.documents(s, d), n = 1, threshold = 0.8)
        .orderBy("id_a", "id_b"),
      Some("""WITH dw AS (SELECT DISTINCT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents),
             |cnt AS (SELECT doc_id, count(*) AS n FROM dw GROUP BY doc_id),
             |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
             |          FROM dw a JOIN dw b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |       round(CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE), 6) AS jaccard
             |FROM pairs JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id
             |WHERE CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE) >= 0.8
             |ORDER BY id_a, id_b""".stripMargin.replace("\n", " "))),

    // end-to-end dedup: near-dup pairs -> connected components -> keep
    // one doc per cluster (min id). The oracle recomputes the exact pair
    // graph O(n²) and its connected components with a recursive CTE
    // (full reachability, then min label) — so label propagation,
    // clustering and keeper selection are all hash-checked, not just
    // row-counted. ExtensionSpec additionally checks a driver-side
    // union-find ground truth.
    Q("dedup_keepers",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.minhashKeepers(docs, threshold = 0.8)
          .select("doc_id", "lang", "source")
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE
             |dw AS (SELECT DISTINCT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents),
             |cnt AS (SELECT doc_id, count(*) AS n FROM dw GROUP BY doc_id),
             |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
             |          FROM dw a JOIN dw b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |good AS (SELECT id_a, id_b FROM pairs JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id
             |         WHERE CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE) >= 0.8),
             |e AS (SELECT id_a AS src, id_b AS dst FROM good UNION ALL SELECT id_b, id_a FROM good),
             |reach(id, r) AS (SELECT src, src FROM e UNION SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
             |comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
             |SELECT doc_id, lang, source FROM documents
             |WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> cluster)
             |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      headline = true),

    // the dedup REPORT: corpus size, cluster count/shape and removal
    // counts from the same pair graph + components as the keepers — the
    // oracle recomputes the O(n²) graph, its recursive-CTE components
    // and every aggregate, so a hash match certifies the report numbers
    // a production dedup job would publish.
    Q("dedup_report",
      (s, d) => Dedup.dedupReport(Tables.documents(s, d), threshold = 0.8),
      Some("""WITH RECURSIVE
             |dw AS (SELECT DISTINCT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents),
             |cnt AS (SELECT doc_id, count(*) AS n FROM dw GROUP BY doc_id),
             |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
             |          FROM dw a JOIN dw b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |good AS (SELECT id_a, id_b FROM pairs JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id
             |         WHERE CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE) >= 0.8),
             |e AS (SELECT id_a AS src, id_b AS dst FROM good UNION ALL SELECT id_b, id_a FROM good),
             |reach(id, r) AS (SELECT src, src FROM e UNION SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
             |comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
             |cl AS (SELECT cluster, count(*) AS sz FROM comp GROUP BY 1),
             |agg AS (SELECT CAST(count(*) AS BIGINT) AS nc,
             |               CAST(COALESCE(sum(sz), 0) AS BIGINT) AS dic,
             |               CAST(COALESCE(max(sz), 0) AS BIGINT) AS lg FROM cl),
             |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
             |SELECT 'corpus_docs' AS metric, n AS value FROM nd
             |UNION ALL SELECT 'docs_in_clusters', dic FROM agg
             |UNION ALL SELECT 'dup_clusters', nc FROM agg
             |UNION ALL SELECT 'duplicate_docs', dic - nc FROM agg
             |UNION ALL SELECT 'keeper_docs', (SELECT n FROM nd) - (dic - nc) FROM agg
             |UNION ALL SELECT 'largest_cluster', lg FROM agg
             |ORDER BY metric""".stripMargin.replace("\n", " "))),

    // word-3-gram near-dups (sequence-sensitive): MinHash+LSH on trigram
    // shingles; the oracle rebuilds identical trigram sets with DuckDB
    // list comprehensions and recomputes all pairs exactly.
    Q("dedup_ngram_jaccard",
      (s, d) => Dedup.minhashDedupPairs(Tables.documents(s, d), n = 3, threshold = 0.8)
        .orderBy("id_a", "id_b"),
      Some("""WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
             |sh AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(w)-2, 1)),
             |         i -> CASE WHEN len(w) >= 3 THEN w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
             |                   ELSE array_to_string(w, ' ') END)) AS s FROM t),
             |dw AS (SELECT DISTINCT doc_id, unnest(s) AS g FROM sh),
             |cnt AS (SELECT doc_id, count(*) AS n FROM dw GROUP BY doc_id),
             |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
             |          FROM dw a JOIN dw b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |       round(CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE), 6) AS jaccard
             |FROM pairs JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id
             |WHERE CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE) >= 0.8
             |ORDER BY id_a, id_b""".stripMargin.replace("\n", " "))),

    // SimHash near-dup pairs over the engine-replayable md5-prefix word
    // hash: the SPARK side runs the production banding pipeline
    // (4×16-bit bands → bucket join → bit_count(xor) verify); the ORACLE
    // recomputes the same simhashes from first principles and compares
    // ALL O(n²) pairs directly — a hash match therefore proves the
    // banding loses no pair within Hamming ≤ 3 (pigeonhole: 3 flipped
    // bits cannot touch all 4 bands). Production keeps xxhash64 word
    // hashes (ExpressionPropertySpec covers the fold); only the word
    // hash differs here, the pipeline is shared code.
    Q("dedup_simhash",
      (s, d) => Dedup.simhashDedupPairs(Tables.documents(s, d), maxHamming = 3,
          wordHash = Dedup.md5WordHash)
        .orderBy("id_a", "id_b"),
      Some("""WITH t AS (SELECT doc_id, list_filter(list_distinct(string_split_regex(text, '\s+')), w -> len(w) > 0) AS ws FROM documents),
             |hx AS (SELECT doc_id, unnest(ws) AS w FROM t),
             |hh AS (SELECT doc_id, list_reduce(list_transform(range(1, 16),
             |         i -> strpos('0123456789abcdef', substring(md5(w), CAST(i AS INT), 1)) - 1),
             |         (a, b) -> a * 16 + b) AS h FROM hx),
             |bits AS (SELECT doc_id, j,
             |           count(*) FILTER (WHERE (h >> CAST(j AS INT)) & 1 = 1) AS n1, count(*) AS n
             |         FROM hh, range(60) r(j) GROUP BY doc_id, j),
             |sh AS (SELECT doc_id, CAST(sum(CASE WHEN 2 * n1 > n THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS sh
             |       FROM bits GROUP BY doc_id)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |       CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
             |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.sh, b.sh)) <= 3
             |ORDER BY id_a, id_b""".stripMargin.replace("\n", " "))),

    // end-to-end training-data pipeline composition: quality-filter the
    // corpus, then near-dup-dedup the survivors, then language-ID the
    // keepers — the canonical clean-corpus flow, hash-checked as one
    // unit (quality SQL + O(n²) pair graph + recursive-CTE components +
    // stopword-argmax, all recomputed independently in DuckDB).
    Q("pipeline_clean_corpus",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val qual = TextAnalysis.qualityMetrics(docs)
          .filter(col("quality_score") >= 0.7).select("doc_id")
        val clean = docs.join(qual, "doc_id")
        Dedup.minhashKeepers(clean, threshold = 0.8)
          .select(col("doc_id"), col("lang"),
            TextAnalysis.langId(col("text")).as("pred_lang"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE
              |q AS (SELECT doc_id, $qualityScoreSql AS score FROM documents),
              |keep0 AS (SELECT d.doc_id, d.lang, d.text FROM documents d JOIN q USING (doc_id) WHERE q.score >= 0.7),
              |dw AS (SELECT DISTINCT doc_id, unnest(string_split_regex(text, '\\s+')) AS w FROM keep0),
              |cnt AS (SELECT doc_id, count(*) AS n FROM dw GROUP BY doc_id),
              |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
              |          FROM dw a JOIN dw b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
              |good AS (SELECT id_a, id_b FROM pairs JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id
              |         WHERE CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE) >= 0.8),
              |e AS (SELECT id_a AS src, id_b AS dst FROM good UNION ALL SELECT id_b, id_a FROM good),
              |reach(id, r) AS (SELECT src, src FROM e UNION SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
              |comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
              |SELECT doc_id, lang, $langCase AS pred_lang
              |FROM (SELECT doc_id, lang, $langScoresSql FROM keep0)
              |WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> cluster)
              |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      headline = true),

    // cross-modal curation composition: text-quality filter → join the
    // documents' embeddings → diversity-sample the survivors (cell
    // caps) → emit curated docs with their semantic cell. Every stage —
    // quality SQL, centroid seed FROM THE FILTERED SET, assignment,
    // cap — is replayed exactly in DuckDB.
    Q("pipeline_curated_corpus",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val qual = TextAnalysis.qualityMetrics(docs)
          .filter(col("quality_score") >= 0.7).select("doc_id")
        val emb = Tables.embeddings(s, d)
          .join(qual.withColumnRenamed("doc_id", "vec_id"), "vec_id")
        val kept = Similarity.diversitySample(emb, nCells = 16, perCell = 10, dim = 64)
        docs.join(kept.withColumnRenamed("vec_id", "doc_id"), "doc_id")
          .select("doc_id", "cell", "lang", "source").orderBy("doc_id")
      },
      Some(s"""WITH q AS (SELECT doc_id, $qualityScoreSql AS score FROM documents),
              |keep0 AS (SELECT doc_id FROM q WHERE score >= 0.7),
              |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              |      WHERE vec_id IN (SELECT doc_id FROM keep0)),
              |${assignCtesSql(16)},
              |keepc AS (SELECT vec_id, cell, row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rnk FROM assign)
              |SELECT d.doc_id, CAST(cell AS INT) AS cell, lang, source
              |FROM documents d JOIN keepc ON d.doc_id = keepc.vec_id
              |WHERE rnk <= 10 ORDER BY d.doc_id""".stripMargin.replace("\n", " ")),
      headline = true),

    // ---- similarity search ----

    Q("sim_topk_bruteforce",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
          .orderBy("query_id", "rank")
      },
      Some("""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 10),
             |scored AS (
             |  SELECT query_id, c.vec_id AS neighbor_id,
             |         list_dot_product(qv, v) / sqrt(list_dot_product(qv, qv) * list_dot_product(v, v)) AS cos
             |  FROM q JOIN c ON query_id <> c.vec_id),
             |ranked AS (SELECT query_id, neighbor_id, cos,
             |                  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
             |           FROM scored)
             |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos
             |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin.replace("\n", " ")),
      headline = true),

    // binary-quantization ANN: sign-bit codes packed into longs (32×
    // compression), integer-only Hamming scan, exact-cosine rerank of a
    // k×5 shortlist. The oracle recomputes the Hamming distances from
    // the RAW vectors (sign disagreements per dimension), so a hash
    // match also proves the packed-word bit_count(xor) path exact.
    Q("sim_binary_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.binaryTopK(emb, emb.filter(col("vec_id") < 10),
          k = 5, dim = 64, oversample = 5)
          .orderBy("query_id", "rank")
      },
      Some("""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 10),
             |h AS (SELECT query_id, c.vec_id AS neighbor_id, qv, v,
             |        CAST(list_sum(list_transform(range(1, 65),
             |          i -> CASE WHEN (qv[i] > 0) <> (v[i] > 0) THEN 1 ELSE 0 END)) AS INT) AS hamming
             |      FROM q JOIN c ON query_id <> c.vec_id),
             |short AS (SELECT query_id, neighbor_id, hamming, qv, v,
             |            row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS hr
             |          FROM h),
             |scored AS (SELECT query_id, neighbor_id, hamming,
             |             list_dot_product(qv, v) / sqrt(list_dot_product(qv, qv) * list_dot_product(v, v)) AS cos
             |           FROM short WHERE hr <= 25),
             |ranked AS (SELECT query_id, neighbor_id, hamming, cos,
             |             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
             |           FROM scored)
             |SELECT query_id, rank, neighbor_id, hamming, round(cos, 6) AS cos
             |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin.replace("\n", " ")),
      headline = true),

    // scalar-quantization (SQ8) ANN: per-dim [lo,hi] calibration over
    // the corpus, 8-bit affine codes, an ADC scan against pre-weighted
    // queries (approx_dot = q·lo + code·(q∘step)), k×5 shortlist,
    // exact-cosine rerank. The oracle recalibrates, re-encodes and
    // re-scores everything in SQL — a hash match proves the calibrate/
    // encode/ADC/rerank chain end to end.
    Q("sim_sq_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.sqTopK(emb, emb.filter(col("vec_id") < 10),
          k = 5, dim = 64, oversample = 5)
          .orderBy("query_id", "rank")
      },
      Some("""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |cal AS (SELECT d, min(x) AS lo, max(x) AS hi
             |        FROM (SELECT unnest(v) AS x, generate_subscripts(v, 1) AS d FROM c) GROUP BY d),
             |calv AS (SELECT list(lo ORDER BY d) AS lo, list((hi - lo) / 255.0 ORDER BY d) AS step FROM cal),
             |codes AS (SELECT c.vec_id,
             |            list_transform(range(1, 65), i -> CASE WHEN cv.step[i] = 0 THEN 0.0
             |              ELSE least(greatest(round((c.v[i] - cv.lo[i]) / cv.step[i]), 0.0), 255.0) END) AS code
             |          FROM c, calv cv),
             |q AS (SELECT c.vec_id AS query_id, c.v AS qv,
             |        list_transform(range(1, 65), i -> c.v[i] * cv.step[i]) AS w,
             |        list_dot_product(c.v, cv.lo) AS cq
             |      FROM c, calv cv WHERE c.vec_id < 10),
             |scored AS (SELECT q.query_id, o.vec_id AS neighbor_id,
             |             q.cq + list_dot_product(o.code, q.w) AS adc
             |           FROM q JOIN codes o ON q.query_id <> o.vec_id),
             |short AS (SELECT query_id, neighbor_id FROM scored
             |          QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) <= 25),
             |rer AS (SELECT s.query_id, s.neighbor_id,
             |          list_dot_product(cq.v, cn.v) / sqrt(list_dot_product(cq.v, cq.v) * list_dot_product(cn.v, cn.v)) AS cos
             |        FROM short s JOIN c cq ON cq.vec_id = s.query_id
             |        JOIN c cn ON cn.vec_id = s.neighbor_id)
             |SELECT query_id,
             |       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank,
             |       neighbor_id, round(cos, 6) AS cos
             |FROM rer QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin.replace("\n", " ")),
      headline = true),

    Q("sim_cosine_neardup",
      (s, d) => Similarity.cosineNearDupPairs(Tables.embeddings(s, d), threshold = 0.45)
        .orderBy("id_a", "id_b"),
      Some("""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |       round(list_dot_product(a.v, b.v) / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)), 6) AS cos
             |FROM c a JOIN c b ON a.vec_id < b.vec_id
             |WHERE list_dot_product(a.v, b.v) / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) >= 0.45
             |ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")),
      headline = true),

    // embedding-space dedup end-to-end: exact cosine near-dup pairs →
    // connected components → one keeper (min id) per cluster. The oracle
    // recomputes the full O(n²) cosine graph and its components with a
    // recursive CTE, so the whole embedding-dedup pipeline is
    // hash-checked, mirroring the text-space dedup_keepers gate.
    Q("dedup_embedding_keepers",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val pairs = Similarity.cosineNearDupPairs(emb, threshold = 0.45)
          .select(col("id_a"), col("id_b"))
        Dedup.keepers(emb, pairs, "vec_id").select("vec_id").orderBy("vec_id")
      },
      Some("""WITH RECURSIVE
             |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |good AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM c a JOIN c b ON a.vec_id < b.vec_id
             |         WHERE list_dot_product(a.v, b.v) / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) >= 0.45),
             |e AS (SELECT id_a AS src, id_b AS dst FROM good UNION ALL SELECT id_b, id_a FROM good),
             |reach(id, r) AS (SELECT src, src FROM e UNION SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
             |comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
             |SELECT vec_id FROM embeddings
             |WHERE vec_id NOT IN (SELECT id FROM comp WHERE id <> cluster)
             |ORDER BY vec_id""".stripMargin.replace("\n", " ")),
      headline = true),

    // LSH / IVF approximate paths — deterministic (seeded), and because
    // the native dot_vec folds exactly like DuckDB's list_dot_product,
    // the oracle replays the full bucketing with the hyperplanes /
    // centroids as SQL literals: every signature, cell assignment and
    // verified cosine is hash-checked, not just row-counted. Recall
    // invariants vs the brute-force truth live in ScalaTest.
    // Johnson–Lindenstrauss random projection: 64-d embeddings down to
    // 8 deterministic Gaussian components (the pre-ANN dimensionality
    // reduction). The oracle re-derives every component with the SAME
    // seeded planes embedded as SQL literals — a hash match proves the
    // projection arithmetic end to end.
    Q("sim_random_projection",
      (s, d) => Similarity.randomProject(Tables.embeddings(s, d),
        dim = 64, outDim = 8, seed = 42L).orderBy("vec_id"),
      Some {
        val planes = Similarity.hyperplanes(64, 8, 42L)
        def arr(p: Array[Double]) = p.mkString("[", ", ", "]")
        val cols = planes.zipWithIndex.map { case (p, j) =>
          s"round(list_dot_product(v, ${arr(p)}) * (1.0 / sqrt(8)), 6) AS p$j"
        }.mkString(", ")
        s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
           |SELECT vec_id, $cols FROM c ORDER BY vec_id""".stripMargin.replace("\n", " ")
      }),

    Q("sim_lsh_ann",
      // nBits sized for the corpus's moderate-cosine regime: p_bit at
      // cos=0.45 is ~0.65, so 4 bits × 8 tables gives ~92% recall.
      (s, d) => Similarity.lshNearDupPairs(Tables.embeddings(s, d),
        threshold = 0.4, dim = 64, nBits = 4, nTables = 8).orderBy("id_a", "id_b"),
      Some(lshOracleSql(threshold = 0.4, dim = 64, nBits = 4, nTables = 8, seed = 42)),
      headline = true),

    Q("sim_ivf_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5, dim = 64)
          .orderBy("query_id", "rank")
      },
      Some(ivfOracleSql(k = 5, nCells = 16, nProbe = 3, queryPred = "vec_id < 10"))),

    // incremental IVF index refresh: centroids frozen on the archive
    // (vec_id % 4 != 0), the delta batch assigned against them — the
    // append-only nightly-ingest pattern. The oracle derives the same
    // archive-only centroids in SQL and replays both assignments.
    Q("sim_ivf_incremental",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.ivfAssignIncremental(
            emb.filter(col("vec_id") % 4 =!= 0),
            emb.filter(col("vec_id") % 4 === 0))
          .orderBy("vec_id")
      },
      Some(s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              |${assignCtesSql(16, centPred = "vec_id % 4 <> 0")}
              |SELECT vec_id, CAST(cell AS INT) AS cell, vec_id % 4 = 0 AS is_delta
              |FROM assign ORDER BY vec_id""".stripMargin.replace("\n", " "))),

    // diversity-balanced subsampling (SemDeDup-style cell caps): the
    // oracle replays the deterministic centroid assignment (the IVF
    // machinery) and the per-cell id-ordered cap exactly.
    Q("sim_diversity_sample",
      (s, d) => Similarity.diversitySample(Tables.embeddings(s, d),
          nCells = 16, perCell = 10, dim = 64)
        .orderBy("vec_id"),
      Some(s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              |${assignCtesSql(16)},
              |keep AS (SELECT vec_id, cell, row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rnk FROM assign)
              |SELECT vec_id, CAST(cell AS INT) AS cell FROM keep WHERE rnk <= 10
              |ORDER BY vec_id""".stripMargin.replace("\n", " ")),
      headline = true),

    // ---- text analysis ----

    Q("text_langid",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), col("lang").as("declared_lang"),
          TextAnalysis.langId(col("text")).as("pred_lang"),
          round(TextAnalysis.langScore(col("text"), "en"), 6).as("en_score"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, declared_lang, $langCase AS pred_lang, round(s_en, 6) AS en_score
              |FROM (SELECT doc_id, lang AS declared_lang, $langScoresSql FROM documents)
              |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      headline = true),

    // Gopher-style repetition filters: duplicated-word fraction, top
    // bigram share, duplicated-bigram fraction — the oracle recomputes
    // the same per-row list math in DuckDB.
    Q("text_repetition",
      (s, d) => TextAnalysis.repetitionMetrics(Tables.documents(s, d)).orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
             |b AS (SELECT doc_id, w, len(w) AS nw,
             |             CASE WHEN len(w) >= 2
             |                  THEN list_transform(range(len(w) - 1), i -> w[i + 1] || ' ' || w[i + 2])
             |                  ELSE [] END AS bg
             |      FROM t)
             |SELECT doc_id, CAST(nw AS INT) AS n_words,
             |       round(CAST(nw - len(list_distinct(w)) AS DOUBLE) / greatest(nw, 1), 6) AS dup_word_frac,
             |       round(CAST(coalesce(list_max(list_transform(list_distinct(bg), x -> len(list_filter(bg, y -> y = x)))), 0) AS DOUBLE) / greatest(len(bg), 1), 6) AS top_bigram_frac,
             |       round(CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / greatest(len(bg), 1), 6) AS dup_bigram_frac
             |FROM b ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    Q("text_quality",
      (s, d) => TextAnalysis.qualityMetrics(Tables.documents(s, d)).orderBy("doc_id"),
      Some("""SELECT doc_id, length(text) AS n_chars,
             |len(string_split_regex(text, '\s+')) AS n_words,
             |round(CAST(length(text) - len(string_split_regex(text, '\s+')) + 1 AS DOUBLE) / CAST(greatest(len(string_split_regex(text, '\s+')), 1) AS DOUBLE), 6) AS avg_word_len,
             |round(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS punct_ratio,
             |round(CAST(len(list_filter(string_split_regex(lower(text), '\s+'), w -> list_contains(['the','a','of','and','to','in','is','that','it','for'], w))) AS DOUBLE) / CAST(greatest(len(string_split_regex(lower(text), '\s+')), 1) AS DOUBLE), 6) AS stopword_ratio,
             |round(CASE WHEN len(string_split_regex(text, '\s+')) BETWEEN 5 AND 10000 THEN 0.4 ELSE 0.0 END
             |    + CASE WHEN CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) <= 0.2 THEN 0.3 ELSE 0.0 END
             |    + CASE WHEN CAST(len(list_filter(string_split_regex(lower(text), '\s+'), w -> list_contains(['the','a','of','and','to','in','is','that','it','for'], w))) AS DOUBLE) / CAST(greatest(len(string_split_regex(lower(text), '\s+')), 1) AS DOUBLE) >= 0.05 THEN 0.3 ELSE 0.0 END, 6) AS quality_score
             |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      headline = true),

    Q("text_tokens",
      (s, d) => TextAnalysis.tokenCounts(Tables.documents(s, d)).orderBy("doc_id"),
      Some("""SELECT doc_id, len(string_split_regex(text, '\s+')) AS ws_tokens,
             |len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens
             |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      headline = true),

    // hashed winnowing fingerprint over the engine-replayable md5-prefix
    // word hash (Dedup.md5WordHash): the native WindowMinima expression,
    // per-window minima, distinct, and k-smallest all run exactly as in
    // production — only the word hash differs (xxhash64 is Spark-private)
    // — and the oracle recomputes the whole pipeline from first
    // principles, so the hashed variant is hash-checked end-to-end
    // instead of rows-only.
    Q("text_fingerprint",
      (s, d) => TextAnalysis.fingerprints(Tables.documents(s, d),
          wordHash = Dedup.md5WordHash)
        .select(col("doc_id"), posexplode(col("fingerprint")).as(Seq("pos", "minh")))
        .orderBy("doc_id", "pos"),
      Some("""WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
             |h AS (SELECT doc_id, list_transform(w, x -> list_reduce(list_transform(range(1, 16),
             |        i -> strpos('0123456789abcdef', substring(md5(x), CAST(i AS INT), 1)) - 1),
             |        (a, b) -> a * 16 + b)) AS hs FROM t),
             |fp AS (SELECT doc_id, list_sort(list_distinct(list_transform(range(greatest(len(hs) - 3, 1)),
             |         i -> list_aggregate(hs[i + 1:i + 4], 'min'))))[1:8] AS f FROM h)
             |SELECT * FROM (SELECT doc_id, unnest(range(len(f))) AS pos, unnest(f) AS minh FROM fp)
             |ORDER BY doc_id, pos""".stripMargin.replace("\n", " "))),

    // winnowing with lexicographic word minima instead of hash minima —
    // same windowing/distinct/k-smallest logic, but every step has a
    // DuckDB twin, so the fingerprint ALGORITHM is hash-checked (the
    // xxhash64 variant above stays rows-only: DuckDB can't replay Spark's
    // hash). Exploded to flat rows for robust value hashing.
    Q("text_fingerprint_words",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), posexplode(
          TextAnalysis.fingerprintWords(col("text"))).as(Seq("pos", "gram")))
        .orderBy("doc_id", "pos"),
      Some("""WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
             |fp AS (SELECT doc_id,
             |       list_sort(list_distinct(list_transform(range(greatest(len(w) - 3, 1)),
             |         i -> list_aggregate(w[i + 1:i + 4], 'min'))))[1:8] AS f FROM t)
             |SELECT * FROM (SELECT doc_id, unnest(range(len(f))) AS pos, unnest(f) AS gram FROM fp)
             |ORDER BY doc_id, pos""".stripMargin.replace("\n", " ")),
      headline = true),

    // PII redaction over text with synthesized (deterministic, id-derived)
    // email/IP/phone spans — the oracle applies the identical regex
    // policy, proving the masking rules match an external engine's RE2.
    Q("text_redact",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.redact(concat(
            col("text"), lit(" contact user"), col("doc_id"),
            lit("@mail.example.com or 10.0."), pmod(col("doc_id"), lit(250)),
            lit(".7 tel +15550104"), pmod(col("doc_id"), lit(100)))).as("clean"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
             |text || ' contact user' || doc_id || '@mail.example.com or 10.0.' || (doc_id % 250) || '.7 tel +15550104' || (doc_id % 100),
             |'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |'\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             |'\+?\d[\d().-]{7,}\d', '<PHONE>', 'g') AS clean
             |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      headline = true),

    // deterministic stratified sampling: per-language 1-in-m keep rates
    // keyed on doc_id; unconfigured strata drop (explicit allowlist).
    // Reproducible by construction — the oracle recomputes the exact
    // same sample from the rate table alone.
    // benchmark decontamination: corpus docs whose word-Jaccard against
    // the (synthetic) benchmark slice reaches 0.8 — the oracle recomputes
    // the full cross inverted-index join, so the broadcast-postings plan
    // is proven exact; decon_clean hash-checks the kept corpus.
    Q("decon_pairs",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.contaminationPairs(
            docs.filter(col("doc_id") % 17 =!= 0),
            docs.filter(col("doc_id") % 17 === 0), threshold = 0.8)
          .orderBy("corpus_id", "ref_id")
      },
      Some("""WITH dw AS (SELECT DISTINCT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents),
             |cnt AS (SELECT doc_id, count(*) AS n FROM dw GROUP BY doc_id),
             |pairs AS (SELECT a.doc_id AS corpus_id, b.doc_id AS ref_id, count(*) AS common
             |          FROM dw a JOIN dw b ON a.w = b.w
             |          WHERE a.doc_id % 17 <> 0 AND b.doc_id % 17 = 0 GROUP BY 1, 2)
             |SELECT corpus_id, ref_id,
             |       round(CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE), 6) AS jaccard
             |FROM pairs JOIN cnt ca ON corpus_id = ca.doc_id JOIN cnt cb ON ref_id = cb.doc_id
             |WHERE CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE) >= 0.8
             |ORDER BY corpus_id, ref_id""".stripMargin.replace("\n", " ")),
      headline = true),

    Q("decon_clean",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.decontaminate(
            docs.filter(col("doc_id") % 17 =!= 0),
            docs.filter(col("doc_id") % 17 === 0), threshold = 0.8)
          .select("doc_id", "lang", "source").orderBy("doc_id")
      },
      Some("""WITH dw AS (SELECT DISTINCT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents),
             |cnt AS (SELECT doc_id, count(*) AS n FROM dw GROUP BY doc_id),
             |bad AS (SELECT DISTINCT a.doc_id AS corpus_id
             |        FROM dw a JOIN dw b ON a.w = b.w
             |        JOIN cnt ca ON a.doc_id = ca.doc_id JOIN cnt cb ON b.doc_id = cb.doc_id
             |        WHERE a.doc_id % 17 <> 0 AND b.doc_id % 17 = 0
             |        GROUP BY a.doc_id, b.doc_id, ca.n, cb.n
             |        HAVING CAST(count(*) AS DOUBLE) / CAST(ca.n + cb.n - count(*) AS DOUBLE) >= 0.8)
             |SELECT doc_id, lang, source FROM documents
             |WHERE doc_id % 17 <> 0 AND doc_id NOT IN (SELECT corpus_id FROM bad)
             |ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // count-based decontamination (the "any shared 13-gram" rule): the
    // oracle rebuilds identical 13-gram sets and counts cross-split
    // co-occurrences exactly.
    Q("decon_ngram13",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.ngramOverlap(
            docs.filter(col("doc_id") % 17 =!= 0),
            docs.filter(col("doc_id") % 17 === 0), n = 13, minCommon = 1)
          .orderBy("corpus_id", "ref_id")
      },
      Some(ngram13OverlapOracleSql)),

    // bloom-prefiltered variant: identical semantics (bloom has no false
    // negatives; false positives die in the exact join), so it shares
    // decon_ngram13's oracle verbatim — a hash match proves the bloom
    // pruning lost nothing.
    Q("decon_bloom",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.ngramOverlapBloom(
            docs.filter(col("doc_id") % 17 =!= 0),
            docs.filter(col("doc_id") % 17 === 0), n = 13, minCommon = 1)
          .orderBy("corpus_id", "ref_id")
      },
      Some(ngram13OverlapOracleSql),
      headline = true),

    // surgical span-level decontamination: positions covered by any
    // reference 13-gram are CUT, the document survives. The oracle
    // rebuilds ref grams on TEXT, derives covered positions, and
    // re-joins survivors with an ordered string_agg — the whole rewrite
    // is hash-checked end-to-end (the span-cut twin of decon_ngram13's
    // detect-only rule).
    Q("decon_span_removal",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.removeContaminatedSpans(
            docs.filter(col("doc_id") % 17 =!= 0),
            docs.filter(col("doc_id") % 17 === 0), n = 13)
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents WHERE doc_id % 17 <> 0),
             |rt AS (SELECT string_split_regex(text, '\s+') AS w FROM documents WHERE doc_id % 17 = 0),
             |p AS (SELECT doc_id, w, CAST(unnest(range(greatest(len(w)-12, 1))) AS INT) AS pos FROM t),
             |g AS (SELECT doc_id, pos, array_to_string(w[pos+1:pos+13], ' ') AS gram FROM p),
             |rp AS (SELECT w, CAST(unnest(range(greatest(len(w)-12, 1))) AS INT) AS pos FROM rt),
             |rg AS (SELECT DISTINCT array_to_string(w[pos+1:pos+13], ' ') AS gram FROM rp),
             |hits AS (SELECT doc_id, pos FROM g JOIN rg USING (gram)),
             |cov AS (SELECT DISTINCT doc_id, pos + CAST(unnest(range(13)) AS INT) AS cpos FROM hits),
             |wpos AS (SELECT doc_id, CAST(unnest(range(len(w))) AS INT) AS pos, unnest(w) AS word FROM t),
             |keep AS (SELECT wp.doc_id, wp.pos, wp.word FROM wpos wp
             |         LEFT JOIN cov ON wp.doc_id = cov.doc_id AND wp.pos = cov.cpos
             |         WHERE cov.doc_id IS NULL),
             |agg AS (SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS clean_text FROM keep GROUP BY doc_id),
             |nrem AS (SELECT cov.doc_id, count(*) AS n_removed FROM cov JOIN t ON t.doc_id = cov.doc_id
             |         WHERE cpos < len(w) GROUP BY cov.doc_id)
             |SELECT t.doc_id, coalesce(agg.clean_text, '') AS clean_text,
             |       CAST(len(t.w) AS INT) AS n_words,
             |       CAST(coalesce(nrem.n_removed, 0) AS INT) AS n_removed
             |FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id LEFT JOIN nrem ON t.doc_id = nrem.doc_id
             |ORDER BY t.doc_id""".stripMargin.replace("\n", " "))),

    // span-level duplication census: the oracle rebuilds the same word
    // 13-grams (with duplicates) and counts documents/occurrences
    // directly on the gram text, so the hash-keyed Spark aggregation is
    // checked end-to-end.
    Q("dedup_spans",
      (s, d) => Dedup.duplicateSpans(Tables.documents(s, d), n = 13, minDocs = 2)
        .orderBy("gram"),
      Some("""WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
             |g AS (SELECT doc_id, unnest(list_transform(range(greatest(len(w)-12, 1)),
             |        i -> array_to_string(w[i+1:i+13], ' '))) AS gram FROM t)
             |SELECT gram, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
             |FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
             |ORDER BY gram""".stripMargin.replace("\n", " ")),
      headline = true),

    // incremental (continuous-ingestion) dedup: the existing keeper
    // corpus is immutable; a new batch drops docs near-dup to ANY
    // existing doc, then dedups the survivors among themselves. The
    // oracle recomputes both stages exactly — the O(n²) cross pair
    // graph and the recursive-CTE components over survivors.
    Q("dedup_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.incrementalKeepers(
            docs.filter(col("doc_id") % 3 === 0),
            docs.filter(col("doc_id") % 3 =!= 0), threshold = 0.8)
          .select("doc_id", "lang", "source").orderBy("doc_id")
      },
      Some("""WITH RECURSIVE
             |dw AS (SELECT DISTINCT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents),
             |cnt AS (SELECT doc_id, count(*) AS n FROM dw GROUP BY doc_id),
             |xp AS (SELECT a.doc_id AS did, b.doc_id AS eid, count(*) AS common
             |       FROM dw a JOIN dw b ON a.w = b.w
             |       WHERE a.doc_id % 3 <> 0 AND b.doc_id % 3 = 0 GROUP BY 1, 2),
             |dropped AS (SELECT DISTINCT did FROM xp JOIN cnt ca ON did = ca.doc_id JOIN cnt cb ON eid = cb.doc_id
             |            WHERE CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE) >= 0.8),
             |sv AS (SELECT doc_id FROM documents WHERE doc_id % 3 <> 0 AND doc_id NOT IN (SELECT did FROM dropped)),
             |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
             |          FROM dw a JOIN dw b ON a.w = b.w AND a.doc_id < b.doc_id
             |          WHERE a.doc_id IN (SELECT doc_id FROM sv) AND b.doc_id IN (SELECT doc_id FROM sv)
             |          GROUP BY 1, 2),
             |good AS (SELECT id_a, id_b FROM pairs JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id
             |         WHERE CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE) >= 0.8),
             |e AS (SELECT id_a AS src, id_b AS dst FROM good UNION ALL SELECT id_b, id_a FROM good),
             |reach(id, r) AS (SELECT src, src FROM e UNION SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
             |comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
             |SELECT doc_id, lang, source FROM documents
             |WHERE doc_id IN (SELECT doc_id FROM sv)
             |AND doc_id NOT IN (SELECT id FROM comp WHERE id <> cluster)
             |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      headline = true),

    // the continuous-ingestion FOLD: batch 0 dedups alone, batch 1
    // dedups against batch 0's keepers — exactly what a foreachBatch
    // pipeline computes (StreamingDedupSpec proves the streaming wrapper
    // equals this batch replay). The oracle replays both stages, each
    // with its own recursive-CTE component solve.
    Q("dedup_incremental_fold",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val k0 = Dedup.minhashKeepers(docs.filter(col("doc_id") % 2 === 0),
          threshold = 0.8)
        val k1 = Dedup.incrementalKeepers(k0,
          docs.filter(col("doc_id") % 2 =!= 0), threshold = 0.8)
        k0.unionAll(k1).select("doc_id", "lang", "source").orderBy("doc_id")
      },
      Some("""WITH RECURSIVE
             |dw AS (SELECT DISTINCT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents),
             |cnt AS (SELECT doc_id, count(*) AS n FROM dw GROUP BY doc_id),
             |p0 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
             |       FROM dw a JOIN dw b ON a.w = b.w AND a.doc_id < b.doc_id
             |       WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 0 GROUP BY 1, 2),
             |g0 AS (SELECT id_a, id_b FROM p0 JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id
             |       WHERE CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE) >= 0.8),
             |e0 AS (SELECT id_a AS src, id_b AS dst FROM g0 UNION ALL SELECT id_b, id_a FROM g0),
             |r0(id, r) AS (SELECT src, src FROM e0 UNION SELECT e0.dst, r0.r FROM r0 JOIN e0 ON e0.src = r0.id),
             |c0 AS (SELECT id, min(r) AS cluster FROM r0 GROUP BY id),
             |k0 AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0
             |       AND doc_id NOT IN (SELECT id FROM c0 WHERE id <> cluster)),
             |x1 AS (SELECT a.doc_id AS did, b.doc_id AS eid, count(*) AS common
             |       FROM dw a JOIN dw b ON a.w = b.w
             |       WHERE a.doc_id % 2 = 1 AND b.doc_id IN (SELECT doc_id FROM k0) GROUP BY 1, 2),
             |drop1 AS (SELECT DISTINCT did FROM x1 JOIN cnt ca ON did = ca.doc_id JOIN cnt cb ON eid = cb.doc_id
             |          WHERE CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE) >= 0.8),
             |sv1 AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT did FROM drop1)),
             |p1 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
             |       FROM dw a JOIN dw b ON a.w = b.w AND a.doc_id < b.doc_id
             |       WHERE a.doc_id IN (SELECT doc_id FROM sv1) AND b.doc_id IN (SELECT doc_id FROM sv1)
             |       GROUP BY 1, 2),
             |g1 AS (SELECT id_a, id_b FROM p1 JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id
             |       WHERE CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE) >= 0.8),
             |e1 AS (SELECT id_a AS src, id_b AS dst FROM g1 UNION ALL SELECT id_b, id_a FROM g1),
             |r1(id, r) AS (SELECT src, src FROM e1 UNION SELECT e1.dst, r1.r FROM r1 JOIN e1 ON e1.src = r1.id),
             |c1 AS (SELECT id, min(r) AS cluster FROM r1 GROUP BY id),
             |k1 AS (SELECT doc_id FROM sv1
             |       WHERE doc_id NOT IN (SELECT id FROM c1 WHERE id <> cluster))
             |SELECT doc_id, lang, source FROM documents
             |WHERE doc_id IN (SELECT doc_id FROM k0 UNION ALL SELECT doc_id FROM k1)
             |ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // ExactSubstr-style span removal: duplicated 13-grams are cut from
    // every document; the oracle rebuilds the census on gram TEXT,
    // derives covered positions, and re-joins survivors with an ordered
    // string_agg — the whole rewrite is hash-checked end-to-end.
    Q("dedup_span_removal",
      (s, d) => Dedup.removeDuplicateSpans(Tables.documents(s, d), n = 13, minDocs = 2)
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
             |p AS (SELECT doc_id, w, CAST(unnest(range(greatest(len(w)-12, 1))) AS INT) AS pos FROM t),
             |g AS (SELECT doc_id, pos, array_to_string(w[pos+1:pos+13], ' ') AS gram FROM p),
             |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
             |hits AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
             |cov AS (SELECT DISTINCT doc_id, pos + CAST(unnest(range(13)) AS INT) AS cpos FROM hits),
             |wpos AS (SELECT doc_id, CAST(unnest(range(len(w))) AS INT) AS pos, unnest(w) AS word FROM t),
             |keep AS (SELECT wp.doc_id, wp.pos, wp.word FROM wpos wp
             |         LEFT JOIN cov ON wp.doc_id = cov.doc_id AND wp.pos = cov.cpos
             |         WHERE cov.doc_id IS NULL),
             |agg AS (SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS clean_text FROM keep GROUP BY doc_id),
             |nrem AS (SELECT cov.doc_id, count(*) AS n_removed FROM cov JOIN t ON t.doc_id = cov.doc_id
             |         WHERE cpos < len(w) GROUP BY cov.doc_id)
             |SELECT t.doc_id, coalesce(agg.clean_text, '') AS clean_text,
             |       CAST(len(t.w) AS INT) AS n_words,
             |       CAST(coalesce(nrem.n_removed, 0) AS INT) AS n_removed
             |FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id LEFT JOIN nrem ON t.doc_id = nrem.doc_id
             |ORDER BY t.doc_id""".stripMargin.replace("\n", " ")),
      headline = true),

    // unigram-LM frequency scoring (perplexity-proxy quality): integer
    // corpus-frequency sums per document, one double division at the end.
    Q("text_freq_stats",
      (s, d) => TextAnalysis.frequencyStats(Tables.documents(s, d)).orderBy("doc_id"),
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token FROM documents),
             |v AS (SELECT token, count(DISTINCT doc_id) AS doc_freq, count(*) AS term_freq
             |      FROM tok WHERE token <> '' GROUP BY token),
             |j AS (SELECT doc_id, term_freq, doc_freq FROM tok JOIN v USING (token) WHERE token <> '')
             |SELECT doc_id, count(*) AS n_tokens, CAST(sum(term_freq) AS BIGINT) AS sum_tf,
             |round(CAST(sum(term_freq) AS DOUBLE) / count(*), 6) AS mean_tf,
             |round(CAST(sum(CASE WHEN doc_freq <= 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS rare_frac
             |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      headline = true),

    // product-quantization ANN: the oracle rebuilds the id-ordered
    // codebook from the parquet itself, replays the per-sub-space L2
    // argmin encoding, reconstructs, and ranks by reconstruction cosine
    // — every code and score is bit-identical (sequential double folds
    // on both engines), so the compressed-ANN path is hash-checked.
    Q("sim_pq_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), k = 5, dim = 64)
          .orderBy("query_id", "rank")
      },
      Some("""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code, v
             |         FROM (SELECT vec_id, v FROM c ORDER BY vec_id LIMIT 16)),
             |subs AS (SELECT CAST(range AS INT) AS sub FROM range(8)),
             |cb AS (SELECT sub, code, cent.v[sub*8+1 : sub*8+8] AS cv FROM cent CROSS JOIN subs),
             |cs AS (SELECT vec_id, sub, v[sub*8+1 : sub*8+8] AS sv FROM c CROSS JOIN subs),
             |dist AS (SELECT vec_id, cs.sub, code,
             |         list_dot_product(sv, sv) - 2*list_dot_product(sv, cv) + list_dot_product(cv, cv) AS d2
             |         FROM cs JOIN cb ON cb.sub = cs.sub),
             |a AS (SELECT vec_id, sub, code FROM (
             |        SELECT vec_id, sub, code, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS r
             |        FROM dist) WHERE r = 1),
             |xh AS (SELECT a.vec_id, flatten(list(cb.cv ORDER BY a.sub)) AS xhat
             |       FROM a JOIN cb ON cb.sub = a.sub AND cb.code = a.code GROUP BY a.vec_id),
             |q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 10),
             |sc AS (SELECT query_id, xh.vec_id AS neighbor_id,
             |              list_dot_product(qv, xhat) / sqrt(list_dot_product(qv, qv) * list_dot_product(xhat, xhat)) AS cos
             |       FROM q JOIN xh ON xh.vec_id <> query_id)
             |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, round(cos, 6) AS cos FROM (
             |  SELECT query_id, neighbor_id, cos,
             |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
             |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin.replace("\n", " ")),
      headline = true),

    // IVF-PQ composed: coarse cells prune the corpus, PQ codes shrink
    // the scan — the production ANN stack. The oracle chains the two
    // already-verified replays (assignCtesSql for cells + the codebook /
    // argmin-encode / reconstruct CTEs) and re-ranks candidates by ADC
    // cosine, so cells, codes, probes and scores are all bit-identical.
    Q("sim_ivfpq_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), k = 5, dim = 64)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |${assignCtesSql(16)},
             |probes AS (SELECT vec_id AS query_id, i AS cell FROM ranked WHERE r <= 3 AND vec_id < 10),
             |pqcent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code, v
             |           FROM (SELECT vec_id, v FROM c ORDER BY vec_id LIMIT 16)),
             |subs AS (SELECT CAST(range AS INT) AS sub FROM range(8)),
             |cb AS (SELECT sub, code, pqcent.v[sub*8+1 : sub*8+8] AS cv FROM pqcent CROSS JOIN subs),
             |cs AS (SELECT vec_id, sub, v[sub*8+1 : sub*8+8] AS sv FROM c CROSS JOIN subs),
             |dist AS (SELECT vec_id, cs.sub, code,
             |         list_dot_product(sv, sv) - 2*list_dot_product(sv, cv) + list_dot_product(cv, cv) AS d2
             |         FROM cs JOIN cb ON cb.sub = cs.sub),
             |enc AS (SELECT vec_id, sub, code FROM (
             |         SELECT vec_id, sub, code, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS r
             |         FROM dist) WHERE r = 1),
             |xh AS (SELECT enc.vec_id, flatten(list(cb.cv ORDER BY enc.sub)) AS xhat
             |       FROM enc JOIN cb ON cb.sub = enc.sub AND cb.code = enc.code GROUP BY enc.vec_id),
             |cand AS (SELECT p.query_id, asg.vec_id AS neighbor_id
             |         FROM probes p JOIN assign asg ON asg.cell = p.cell AND asg.vec_id <> p.query_id),
             |sc AS (SELECT query_id, neighbor_id,
             |              list_dot_product(q.v, xh.xhat) / sqrt(list_dot_product(q.v, q.v) * list_dot_product(xh.xhat, xh.xhat)) AS cos
             |       FROM cand JOIN c q ON q.vec_id = cand.query_id JOIN xh ON xh.vec_id = cand.neighbor_id)
             |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, round(cos, 6) AS cos FROM (
             |  SELECT query_id, neighbor_id, cos,
             |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
             |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin.replace("\n", " ")),
      headline = true),

    // fixed-size chunking with overlap (pretraining/RAG prep): every
    // start offset, boundary and tail is replayed in SQL.
    Q("text_chunks",
      (s, d) => TextAnalysis.chunk(Tables.documents(s, d), size = 40, stride = 20)
        .orderBy("doc_id", "chunk_idx"),
      Some("""WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
             |st AS (SELECT doc_id, w, CAST(unnest(range(0, greatest(len(w) - 40, 0) + 20, 20)) AS INT) AS start FROM t)
             |SELECT doc_id, CAST(start // 20 AS INT) AS chunk_idx,
             |array_to_string(w[start+1 : start+40], ' ') AS chunk,
             |CAST(len(w[start+1 : start+40]) AS INT) AS n_words
             |FROM st ORDER BY doc_id, chunk_idx""".stripMargin.replace("\n", " ")),
      headline = true),

    // corpus vocabulary: top tokens by document frequency.
    Q("vocab_topk",
      (s, d) => TextAnalysis.vocabulary(Tables.documents(s, d))
        .orderBy(col("doc_freq").desc, col("token")).limit(100),
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token FROM documents),
             |tcnt AS (SELECT doc_id, token, count(*) AS tf FROM tok WHERE token <> '' GROUP BY 1, 2)
             |SELECT token, count(*) AS doc_freq, CAST(sum(tf) AS BIGINT) AS term_freq
             |FROM tcnt GROUP BY token
             |ORDER BY doc_freq DESC, token LIMIT 100""".stripMargin.replace("\n", " ")),
      headline = true),

    // per-document tf-idf keywords; the rational (log-free) idf makes
    // the score — and therefore the ranking — bit-identical in DuckDB.
    Q("text_tfidf_keywords",
      (s, d) => TextAnalysis.tfidfKeywords(Tables.documents(s, d), k = 3)
        .orderBy("doc_id", "rank"),
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token FROM documents),
             |tcnt AS (SELECT doc_id, token, count(*) AS tf FROM tok WHERE token <> '' GROUP BY 1, 2),
             |dcnt AS (SELECT token, count(*) AS df FROM tcnt GROUP BY 1),
             |n AS (SELECT count(*) AS n_docs FROM documents),
             |sc AS (SELECT doc_id, tcnt.token AS token, tf, df,
             |         round(tf * (n_docs + 1.0) / (df + 1.0), 6) AS score
             |       FROM tcnt JOIN dcnt ON tcnt.token = dcnt.token CROSS JOIN n),
             |r AS (SELECT doc_id, token, tf, df, score,
             |        row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rank
             |      FROM sc)
             |SELECT doc_id, rank, token, tf, df, score FROM r WHERE rank <= 3
             |ORDER BY doc_id, rank""".stripMargin.replace("\n", " ")),
      headline = true),

    // unigram-LM perplexity quality scoring (CCNet/KenLM-style): the LM
    // is trained on the corpus itself (add-one smoothing over the
    // vocabulary), every document scored by mean token surprisal +
    // perplexity. The oracle retrains the same LM independently in SQL;
    // per-token surprisals are rounded-then-DECIMAL so both engines sum
    // exactly (order-independent) — a hash match proves LM training and
    // scoring end-to-end.
    Q("text_perplexity",
      (s, d) => TextAnalysis.unigramPerplexity(Tables.documents(s, d))
        .orderBy("doc_id"),
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token FROM documents),
             |tc AS (SELECT doc_id, token, count(*) AS tf FROM tok WHERE token <> '' GROUP BY 1, 2),
             |vocab AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cnt FROM tc GROUP BY 1),
             |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS T, count(*) AS V FROM vocab),
             |term AS (SELECT doc_id, tf,
             |           CAST(round(ln(CAST(cnt + 1 AS DOUBLE) / CAST(T + V AS DOUBLE)), 6) AS DECIMAL(18,6)) AS l
             |         FROM tc JOIN vocab USING (token) CROSS JOIN tot),
             |d AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
             |        sum(CAST(tf AS DECIMAL(18,6)) * l) AS s
             |      FROM term GROUP BY 1)
             |SELECT doc_id, n_tokens, round(CAST(-s AS DOUBLE) / n_tokens, 6) AS avg_nll,
             |       round(exp(CAST(-s AS DOUBLE) / n_tokens), 3) AS ppl
             |FROM d ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      headline = true),

    // Sparse TF-IDF cosine near-dup pairs (TextAnalysis
    // .sparseCosinePairs): documents as tf·idf vectors, pairwise cosine
    // via an inverted-index self-join (pairs meet only on shared
    // tokens; df > 100 tokens dropped — the posting-length cap). The
    // oracle rebuilds weights, norms and dots with the same
    // decimal-exact arithmetic.
    Q("text_sparse_neardup",
      (s, d) => TextAnalysis.sparseCosinePairs(Tables.documents(s, d),
        threshold = 0.6, maxDf = 100)
        .orderBy("id_a", "id_b"),
      Some("""WITH tf AS (SELECT doc_id AS id, token, count(*) AS tf
             |            FROM (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token FROM documents)
             |            WHERE token <> '' GROUP BY 1, 2),
             |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) <= 100),
             |n AS (SELECT count(*) AS N FROM documents),
             |w AS (SELECT id, token,
             |        CAST(round(CAST(tf AS DOUBLE) * ln(CAST(N + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)), 6) AS DECIMAL(18,6)) AS w
             |      FROM tf JOIN dfreq USING (token) CROSS JOIN n),
             |norms AS (SELECT id, sum(w * w) AS n2 FROM w GROUP BY 1),
             |dots AS (SELECT a.id AS id_a, b.id AS id_b, sum(a.w * b.w) AS dot
             |         FROM w a JOIN w b ON a.token = b.token AND a.id < b.id
             |         GROUP BY 1, 2),
             |cosed AS (SELECT id_a, id_b,
             |            CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS cos
             |          FROM dots JOIN norms na ON na.id = id_a JOIN norms nb ON nb.id = id_b)
             |SELECT id_a, id_b, round(cos, 6) AS cos FROM cosed
             |WHERE cos >= 0.6 ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")),
      headline = true),

    // Interpolated BIGRAM LM perplexity (TextAnalysis.bigramPerplexity)
    // — the KenLM-shaped upgrade of the unigram CCNet filter:
    // p(w2|w1) = λ·c12/c1 + (1−λ)·p_uni(w2), first token scored by the
    // unigram, per-term logs rounded-then-DECIMAL so the doc sums are
    // exact. The oracle retrains both models and rescores every doc.
    Q("text_bigram_perplexity",
      (s, d) => TextAnalysis.bigramPerplexity(Tables.documents(s, d))
        .orderBy("doc_id"),
      Some("""WITH w AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w FROM documents),
             |toks AS (SELECT doc_id, w FROM w WHERE len(w) > 0),
             |uni AS (SELECT token, count(*) AS cnt FROM (SELECT unnest(w) AS token FROM toks) GROUP BY 1),
             |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS T, count(*) AS V FROM uni),
             |unip AS (SELECT token, CAST(cnt + 1 AS DOUBLE) / (T + V) AS p_uni FROM uni CROSS JOIN tot),
             |bi AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2, count(*) AS tf
             |       FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM toks WHERE len(w) >= 2)
             |       GROUP BY 1, 2, 3),
             |c12 AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS c12 FROM bi GROUP BY 1, 2),
             |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
             |bil AS (SELECT c12.w1, c12.w2,
             |          CAST(round(ln(0.7 * CAST(c12 AS DOUBLE) / c1 + (1 - 0.7) * p_uni), 6) AS DECIMAL(18,6)) AS l
             |        FROM c12 JOIN c1 USING (w1) JOIN unip ON unip.token = c12.w2),
             |f AS (SELECT doc_id, len(w) AS n, CAST(round(ln(p_uni), 6) AS DECIMAL(18,6)) AS l1
             |      FROM toks JOIN unip ON unip.token = w[1]),
             |bs AS (SELECT b.doc_id, sum(CAST(tf AS DECIMAL(18,6)) * l) AS sb
             |       FROM bi b JOIN bil ON bil.w1 = b.w1 AND bil.w2 = b.w2 GROUP BY 1),
             |d AS (SELECT f.doc_id, f.n, f.l1 + COALESCE(bs.sb, 0) AS s
             |      FROM f LEFT JOIN bs USING (doc_id))
             |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
             |       round(CAST(-s AS DOUBLE) / n, 6) AS avg_nll,
             |       round(exp(CAST(-s AS DOUBLE) / n), 3) AS ppl
             |FROM d ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      headline = true),

    // Multinomial Naive Bayes classifier (TextAnalysis
    // .naiveBayesClassify) — the fasttext-shaped model-based
    // gate of a curation pipeline, trained distributed on an 80% split
    // (label = lang, vocab capped at the 512 most frequent train
    // tokens) and applied to the held-out 20%. The oracle retrains the
    // ENTIRE model in SQL — counts, deterministic vocab cap, add-one
    // smoothed log-likelihoods, decimal-exact score sums, tie-broken
    // argmax — so a hash match proves training AND inference
    // end-to-end, not just the plumbing.
    Q("text_nb_classify",
      (s, d) => {
        val docs = Tables.documents(s, d)
        TextAnalysis.naiveBayesClassify(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0),
          labelCol = "lang", vocabCap = 512)
          .orderBy("doc_id")
      },
      Some("""WITH train AS (SELECT lang AS cls, text FROM documents WHERE doc_id % 5 <> 0),
             |tok AS (SELECT cls, unnest(string_split_regex(text, '\s+')) AS token FROM train),
             |ct AS (SELECT cls, token, count(*) AS ctk FROM tok WHERE token <> '' GROUP BY 1, 2),
             |vocab AS (SELECT token FROM (SELECT token, CAST(sum(ctk) AS BIGINT) AS tot FROM ct GROUP BY 1)
             |          QUALIFY row_number() OVER (ORDER BY tot DESC, token) <= 512),
             |ctc AS (SELECT ct.* FROM ct JOIN vocab USING (token)),
             |ctot AS (SELECT cls, CAST(sum(ctk) AS BIGINT) AS ctot FROM ctc GROUP BY 1),
             |v AS (SELECT count(*) AS V FROM vocab),
             |ntr AS (SELECT count(*) AS N FROM train),
             |prior AS (SELECT cls, CAST(round(ln(CAST(count(*) AS DOUBLE) / (SELECT N FROM ntr)), 6) AS DECIMAL(18,6)) AS prior
             |          FROM train GROUP BY cls),
             |model AS (SELECT c.cls, t.token,
             |            CAST(round(ln(CAST(COALESCE(x.ctk, 0) + 1 AS DOUBLE) / CAST(c.ctot + (SELECT V FROM v) AS DOUBLE)), 6) AS DECIMAL(18,6)) AS l
             |          FROM vocab t CROSS JOIN ctot c
             |          LEFT JOIN ctc x ON x.cls = c.cls AND x.token = t.token),
             |tt AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token FROM documents WHERE doc_id % 5 = 0),
             |st AS (SELECT doc_id, token, count(*) AS tf FROM tt WHERE token <> '' GROUP BY 1, 2),
             |sc AS (SELECT s.doc_id, m.cls, any_value(p.prior) + sum(CAST(s.tf AS DECIMAL(18,6)) * m.l) AS score
             |       FROM st s JOIN model m USING (token) JOIN prior p ON p.cls = m.cls
             |       GROUP BY 1, 2)
             |SELECT doc_id, cls AS pred, round(CAST(score AS DOUBLE), 6) AS score
             |FROM sc QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls) = 1
             |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      headline = true),

    // Distributed LOGISTIC-REGRESSION quality classifier (the
    // fastText-style learned corpus filter): 3 full-batch GD iterations,
    // each ONE map-side-combined 5-term gradient aggregate. Features,
    // sigmoids and gradients live on a fixed decimal grid, so the oracle
    // REPLAYS THE ENTIRE TRAINING — all three weight updates as unrolled
    // CTEs — and the hash match proves optimization + inference
    // end-to-end, not just scoring.
    Q("text_lr_quality",
      (s, d) => {
        val docs = Tables.documents(s, d)
        TextAnalysis.logisticQuality(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0),
          label = col("lang") === "en")
          .orderBy("doc_id")
      },
      Some {
        def z(wp: String) =
          s"((SELECT w0 FROM $wp) + (SELECT w1 FROM $wp)*x1 + " +
            s"(SELECT w2 FROM $wp)*x2 + (SELECT w3 FROM $wp)*x3 + " +
            s"(SELECT w4 FROM $wp)*x4)"
        def sig(wp: String) = s"round(1/(1+exp(-${z(wp)})), 6)"
        def grad(wp: String) = {
          val r = s"CAST(y - ${sig(wp)} AS DECIMAL(8,6))"
          val xs = Seq("CAST(1.0 AS DECIMAL(8,6))") ++
            (1 to 4).map(i => s"CAST(x$i AS DECIMAL(8,6))")
          xs.zipWithIndex.map { case (x, k) => s"sum($r * $x) AS g$k" }
            .mkString(", ")
        }
        def upd(gp: String, wp: String) =
          (0 to 4).map(k =>
            s"round((SELECT w$k FROM $wp) + 0.5*CAST(g$k AS DOUBLE)/" +
              s"(SELECT n FROM nn), 9) AS w$k").mkString(", ")
        s"""WITH f0 AS MATERIALIZED (
           |  SELECT doc_id, lang, n_chars,
           |    len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS nw,
           |    len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS np,
           |    len(list_filter(string_split_regex(lower(text), '\\s+'),
           |        x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS nh
           |  FROM documents),
           |feat AS MATERIALIZED (
           |  SELECT doc_id, (doc_id % 5 <> 0) AS is_train,
           |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
           |    round(least(CAST(nw AS DOUBLE), 400.0)/400.0, 6) AS x1,
           |    round(least(CAST(n_chars AS DOUBLE)/CAST(greatest(nw, 1) AS DOUBLE), 20.0)/20.0, 6) AS x2,
           |    round(CAST(np AS DOUBLE)/greatest(CAST(n_chars AS DOUBLE), 1.0), 6) AS x3,
           |    round(CAST(nh AS DOUBLE)/CAST(greatest(nw, 1) AS DOUBLE), 6) AS x4
           |  FROM f0),
           |tr AS MATERIALIZED (SELECT * FROM feat WHERE is_train),
           |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM tr),
           |w0c AS MATERIALIZED (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3, 0.0 AS w4),
           |g1 AS MATERIALIZED (SELECT ${grad("w0c")} FROM tr),
           |w1c AS MATERIALIZED (SELECT ${upd("g1", "w0c")} FROM g1),
           |g2 AS MATERIALIZED (SELECT ${grad("w1c")} FROM tr),
           |w2c AS MATERIALIZED (SELECT ${upd("g2", "w1c")} FROM g2),
           |g3 AS MATERIALIZED (SELECT ${grad("w2c")} FROM tr),
           |w3c AS MATERIALIZED (SELECT ${upd("g3", "w2c")} FROM g3)
           |SELECT doc_id, ${sig("w3c")} AS p, ${sig("w3c")} > 0.5 AS pred
           |FROM feat WHERE NOT is_train ORDER BY doc_id""".stripMargin
          .replace("\n", " ")
      },
      headline = true),

    // perplexity AS the filter — the CCNet recipe end-to-end: train the
    // unigram LM on the corpus, score every doc, keep the at-or-below-
    // median half ("looks like the corpus"). The oracle retrains the LM,
    // rescores, recomputes the median (quantile_cont ≡ Spark median on
    // identical rounded inputs), and refilters — the full selection is
    // hash-checked, not just the scores.
    Q("pipeline_perplexity_corpus",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val scored = TextAnalysis.unigramPerplexity(docs)
        val med = scored.agg(round(median(col("ppl")), 6).as("med"))
        scored.crossJoin(broadcast(med))
          .filter(col("ppl") <= col("med"))
          .join(docs.select("doc_id", "lang", "source"), "doc_id")
          .select("doc_id", "lang", "source", "ppl")
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token FROM documents),
             |tc AS (SELECT doc_id, token, count(*) AS tf FROM tok WHERE token <> '' GROUP BY 1, 2),
             |vocab AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cnt FROM tc GROUP BY 1),
             |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS T, count(*) AS V FROM vocab),
             |term AS (SELECT doc_id, tf,
             |           CAST(round(ln(CAST(cnt + 1 AS DOUBLE) / CAST(T + V AS DOUBLE)), 6) AS DECIMAL(18,6)) AS l
             |         FROM tc JOIN vocab USING (token) CROSS JOIN tot),
             |sc AS (SELECT doc_id,
             |         round(exp(CAST(-sum(CAST(tf AS DECIMAL(18,6)) * l) AS DOUBLE)
             |               / CAST(sum(tf) AS BIGINT)), 3) AS ppl
             |       FROM term GROUP BY 1),
             |m AS (SELECT round(median(ppl), 6) AS med FROM sc)
             |SELECT doc_id, lang, source, ppl
             |FROM sc CROSS JOIN m JOIN documents USING (doc_id)
             |WHERE ppl <= med ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // token-budget data mixing: per-source floors in deterministic id
    // order — the mixture-weights step, reproducible and auditable; the
    // oracle replays the same cumsum-window rule.
    Q("corpus_mix_tokens",
      (s, d) => graft.operators.Sampling.mixByTokenBudget(
          Tables.documents(s, d)
            .withColumn("n_tokens", size(split(col("text"), "\\s+"))),
          "source", "doc_id", "n_tokens",
          Map("src1" -> 600L, "src2" -> 400L, "src5" -> 10000L, "src7" -> 300L))
        .select("doc_id", "source", "n_tokens").orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, source, len(string_split_regex(text, '\s+')) AS n_tokens FROM documents),
             |c AS (SELECT doc_id, source, n_tokens,
             |             CASE source WHEN 'src1' THEN 600 WHEN 'src2' THEN 400
             |                         WHEN 'src5' THEN 10000 WHEN 'src7' THEN 300 END AS budget,
             |             sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS cum
             |      FROM t)
             |SELECT doc_id, source, n_tokens FROM c
             |WHERE budget IS NOT NULL AND cum < budget
             |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      headline = true),

    // the same mixing rule budgeted in REAL BPE tokens (training
    // budgets are token budgets, and whitespace counts mis-weight
    // sources with different word lengths): Bpe.encode supplies
    // n_tokens, the mix replays identically, and the oracle recomputes
    // the BPE token counts through the same unrolled replace chain as
    // text_bpe_encode before applying the cumsum rule.
    Q("corpus_mix_bpe",
      (s, d) => {
        val toks = Bpe.encode(s, Tables.documents(s, d), Bpe.EnglishMerges)
          .select(col("doc_id"), col("n_tokens"))
        graft.operators.Sampling.mixByTokenBudget(
          Tables.documents(s, d).join(toks, "doc_id"),
          "source", "doc_id", "n_tokens",
          Map("src1" -> 500L, "src3" -> 400L, "src5" -> 8000L, "src8" -> 250L))
          .select("doc_id", "source", "n_tokens").orderBy("doc_id")
      },
      Some {
        val chain = Bpe.EnglishMerges.foldLeft("s") { case (acc, (a, b)) =>
          s"replace($acc, '($a)($b)', '($a$b)')"
        }
        s"""WITH w AS (SELECT doc_id, source,
           |  array_to_string(list_transform(
           |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> ''),
           |    x -> regexp_replace(x, '(.)', '(\\1)', 'g')), ' ') AS s
           |  FROM documents),
           |tk AS (SELECT doc_id, source,
           |  CAST(len(regexp_extract_all($chain, '\\(([a-z]+)\\)', 1)) AS INT) AS n_tokens
           |  FROM w),
           |c AS (SELECT doc_id, source, n_tokens,
           |        CASE source WHEN 'src1' THEN 500 WHEN 'src3' THEN 400
           |                    WHEN 'src5' THEN 8000 WHEN 'src8' THEN 250 END AS budget,
           |        sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS cum
           |      FROM tk)
           |SELECT doc_id, source, n_tokens FROM c
           |WHERE budget IS NOT NULL AND cum < budget
           |ORDER BY doc_id""".stripMargin.replace("\n", " ")
      }),

    Q("corpus_sample_stratified",
      (s, d) => graft.operators.Sampling.stratified(
          Tables.documents(s, d), "lang", "doc_id",
          Map("en" -> 2, "de" -> 3, "fr" -> 5))
        .select("doc_id", "lang", "source").orderBy("doc_id"),
      Some("""SELECT doc_id, lang, source FROM documents
             |WHERE (lang = 'en' AND doc_id % 2 = 0) OR (lang = 'de' AND doc_id % 3 = 0)
             |   OR (lang = 'fr' AND doc_id % 5 = 0) ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      headline = true),

    // weighted sampling without replacement (Efraimidis–Spirakis, keys
    // u^(1/w) on a replayable md5 uniform, w = doc length): the draw is
    // deterministic enough for DuckDB to redo it bit-for-bit. Top-k is
    // TakeOrderedAndProject — no global sort at any scale.
    Q("corpus_sample_weighted",
      (s, d) => graft.operators.Sampling.weightedSample(
          Tables.documents(s, d), "doc_id", "n_chars", k = 200)
        .select("doc_id", "source", "n_chars").orderBy("doc_id"),
      Some("""WITH h AS (
             |  SELECT doc_id, source, n_chars,
             |         list_reduce(list_transform(range(1, 16),
             |           i -> strpos('0123456789abcdef',
             |                  substring(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1),
             |           (a, b) -> a * 16 + b) AS hv
             |  FROM documents),
             |k AS (
             |  SELECT doc_id, source, n_chars,
             |         pow(CAST(hv AS DOUBLE) / 1152921504606846976.0, 1.0 / n_chars) AS wk
             |  FROM h)
             |SELECT doc_id, source, n_chars
             |FROM (SELECT * FROM k ORDER BY wk DESC, doc_id LIMIT 200)
             |ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // leakage-safe split by domain: every page of a source lands in the
    // same train/val/test split (hash-of-group assignment, no RNG); the
    // oracle replays the md5 uniform and the exact cumulative bounds.
    // Deterministic training order (Sampling.trainingOrder): seeded
    // global shuffle + shard layout for distributed dataloaders — the
    // oracle replays both md5 keys digit by digit and re-ranks within
    // shards, so the exact byte order a training run would consume is
    // hash-certified.
    Q("corpus_training_order",
      (s, d) => graft.operators.Sampling.trainingOrder(
          Tables.documents(s, d), nShards = 8, seed = 42L)
        .orderBy("doc_id"),
      Some("""WITH h AS (
             |  SELECT doc_id,
             |         list_reduce(list_transform(range(1, 16), i -> strpos('0123456789abcdef', substring(md5('sh42:' || CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1), (a, b) -> a * 16 + b) AS shv,
             |         list_reduce(list_transform(range(1, 16), i -> strpos('0123456789abcdef', substring(md5('ord42:' || CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1), (a, b) -> a * 16 + b) AS ohv
             |  FROM documents)
             |SELECT doc_id, CAST(shv % 8 AS INT) AS shard,
             |       CAST(row_number() OVER (PARTITION BY shv % 8 ORDER BY ohv, doc_id) - 1 AS BIGINT) AS pos
             |FROM h ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      headline = false),

    Q("corpus_split",
      (s, d) => graft.operators.Sampling.assignSplit(
          Tables.documents(s, d), "source",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "source", "split").orderBy("doc_id"),
      Some("""WITH h AS (
             |  SELECT doc_id, source,
             |         list_reduce(list_transform(range(1, 16),
             |           i -> strpos('0123456789abcdef',
             |                  substring(md5(source), CAST(i AS INT), 1)) - 1),
             |           (a, b) -> a * 16 + b) AS hv
             |  FROM documents)
             |SELECT doc_id, source,
             |       CASE WHEN CAST(hv AS DOUBLE) / 1152921504606846976.0 < 0.8 THEN 'train'
             |            WHEN CAST(hv AS DOUBLE) / 1152921504606846976.0 < 0.9 THEN 'val'
             |            ELSE 'test' END AS split
             |FROM h ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // leakage-safe split by NEAR-DUP CLUSTER — the training-data version:
    // near-duplicate documents must never straddle train and test, so
    // the split key is the connected-component label of the MinHash
    // near-dup graph (singletons key on themselves). The oracle rebuilds
    // the exact pair graph + components with a recursive CTE, then
    // replays the same hash split on the cluster label — end-to-end
    // hash-checked leakage safety.
    Q("corpus_split_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = Dedup.minhashDedupPairs(docs, threshold = 0.8)
          .select("id_a", "id_b")
        val labels = Dedup.clusters(pairs).withColumnRenamed("id", "doc_id")
        graft.operators.Sampling.assignSplit(
            docs.join(labels, Seq("doc_id"), "left_outer")
              .withColumn("cluster", coalesce(col("cluster"), col("doc_id"))),
            "cluster", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .select("doc_id", "cluster", "split").orderBy("doc_id")
      },
      Some("""WITH RECURSIVE
             |dw AS (SELECT DISTINCT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents),
             |cnt AS (SELECT doc_id, count(*) AS n FROM dw GROUP BY doc_id),
             |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
             |          FROM dw a JOIN dw b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |good AS (SELECT id_a, id_b FROM pairs JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id
             |         WHERE CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE) >= 0.8),
             |e AS (SELECT id_a AS src, id_b AS dst FROM good UNION ALL SELECT id_b, id_a FROM good),
             |reach(id, r) AS (SELECT src, src FROM e UNION SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
             |comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
             |lab AS (SELECT d.doc_id, coalesce(comp.cluster, d.doc_id) AS cluster
             |        FROM documents d LEFT JOIN comp ON d.doc_id = comp.id),
             |h AS (SELECT doc_id, cluster,
             |        list_reduce(list_transform(range(1, 16),
             |          i -> strpos('0123456789abcdef',
             |                 substring(md5(CAST(cluster AS VARCHAR)), CAST(i AS INT), 1)) - 1),
             |          (a, b) -> a * 16 + b) AS hv
             |      FROM lab)
             |SELECT doc_id, cluster,
             |       CASE WHEN CAST(hv AS DOUBLE) / 1152921504606846976.0 < 0.8 THEN 'train'
             |            WHEN CAST(hv AS DOUBLE) / 1152921504606846976.0 < 0.9 THEN 'val'
             |            ELSE 'test' END AS split
             |FROM h ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // per-source cap ("at most N pages per domain", C4/RefinedWeb rule),
    // preferring the longest documents, ties on doc_id. The rank filter
    // becomes a WindowGroupLimit per-partition top-N — O(N) state per
    // source, so a mega-domain can't skew the stage.
    Q("corpus_domain_cap",
      (s, d) => graft.operators.Sampling.capPerSource(
          Tables.documents(s, d), "source", "n_chars", "doc_id", n = 10)
        .select("doc_id", "source", "n_chars").orderBy("doc_id"),
      Some("""SELECT doc_id, source, n_chars FROM (
             |  SELECT doc_id, source, n_chars,
             |         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
             |  FROM documents) t
             |WHERE rn <= 10 ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // sequence packing for pretraining batches: per-source token-budget
    // bins in one window pass (boundary-straddle semantics — exactly the
    // SQL the oracle runs; the exact-greedy variant is spec-tested).
    Q("corpus_pack_bins",
      (s, d) => graft.operators.Packing.packByCumsum(
          Tables.documents(s, d)
            .withColumn("n_tokens", size(split(col("text"), "\\s+"))),
          "source", "doc_id", "n_tokens", budget = 1000L)
        .orderBy("doc_id"),
      Some("""SELECT source, doc_id, len(string_split_regex(text, '\s+')) AS n_tokens,
             |CAST(floor((sum(len(string_split_regex(text, '\s+'))) OVER
             |  (PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |  - len(string_split_regex(text, '\s+'))) / 1000.0) AS BIGINT) AS bin
             |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // quality-aware dedup: per near-dup cluster keep the highest-quality
    // copy (ties -> min id) instead of the min id. The oracle recomputes
    // the O(n²) pair graph, its components, the quality score and the
    // per-cluster argmax — end-to-end hash-checked.
    Q("dedup_keepers_best",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val scored = docs.join(
          TextAnalysis.qualityMetrics(docs).select("doc_id", "quality_score"), "doc_id")
        Dedup.keepersBy(scored, Dedup.minhashDedupPairs(docs, threshold = 0.8),
            "quality_score")
          .select("doc_id", "lang").orderBy("doc_id")
      },
      Some("""WITH RECURSIVE
             |dw AS (SELECT DISTINCT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents),
             |cnt AS (SELECT doc_id, count(*) AS n FROM dw GROUP BY doc_id),
             |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
             |          FROM dw a JOIN dw b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |good AS (SELECT id_a, id_b FROM pairs JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id
             |         WHERE CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE) >= 0.8),
             |e AS (SELECT id_a AS src, id_b AS dst FROM good UNION ALL SELECT id_b, id_a FROM good),
             |reach(id, r) AS (SELECT src, src FROM e UNION SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
             |comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
             |q AS (SELECT doc_id,
             |  round(CASE WHEN len(string_split_regex(text, '\s+')) BETWEEN 5 AND 10000 THEN 0.4 ELSE 0.0 END
             |      + CASE WHEN CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) <= 0.2 THEN 0.3 ELSE 0.0 END
             |      + CASE WHEN CAST(len(list_filter(string_split_regex(lower(text), '\s+'), w -> list_contains(['the','a','of','and','to','in','is','that','it','for'], w))) AS DOUBLE) / CAST(greatest(len(string_split_regex(lower(text), '\s+')), 1) AS DOUBLE) >= 0.05 THEN 0.3 ELSE 0.0 END, 6) AS score
             |  FROM documents)
             |SELECT doc_id, lang FROM (
             |  SELECT d.doc_id, d.lang,
             |         row_number() OVER (PARTITION BY COALESCE(c.cluster, d.doc_id)
             |                            ORDER BY q.score DESC, d.doc_id) AS rn
             |  FROM documents d JOIN q USING (doc_id) LEFT JOIN comp c ON c.id = d.doc_id)
             |WHERE rn = 1 ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // REAL BPE encoding (operators/Bpe): the corpus encoded with a
    // fixed training-shaped merge list, replayed in DuckDB as unrolled
    // merge-order replaces over a boundary-safe `(c)(c)` rendering —
    // SQL replace's left-to-right non-overlapping semantics IS BPE's
    // leftmost-first merge, and the paren wrapping makes cross-token
    // matches impossible. Hash-green = the rank-priority encoder equals
    // the sequential merge application byte-for-byte on every document
    // (the trainer itself is spec-verified on the textbook corpus).
    Q("text_bpe_encode",
      (s, d) => {
        val enc = Bpe.encode(s, Tables.documents(s, d), Bpe.EnglishMerges)
        enc.select(col("doc_id"), col("n_tokens"),
          concat_ws(" ", slice(col("tokens"), 1, 5)).as("sample"))
          .orderBy("doc_id")
      },
      Some {
        val chain = Bpe.EnglishMerges.foldLeft("s") { case (acc, (a, b)) =>
          s"replace($acc, '($a)($b)', '($a$b)')"
        }
        s"""WITH w AS (SELECT doc_id,
           |  array_to_string(list_transform(
           |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> ''),
           |    x -> regexp_replace(x, '(.)', '(\\1)', 'g')), ' ') AS s
           |  FROM documents),
           |m AS (SELECT doc_id, $chain AS s FROM w)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(s, '\\(([a-z]+)\\)', 1)) AS INT) AS n_tokens,
           |  array_to_string(list_slice(regexp_extract_all(s, '\\(([a-z]+)\\)', 1), 1, 5), ' ') AS sample
           |FROM m ORDER BY doc_id""".stripMargin.replace("\n", " ")
      },
      headline = true),

    // ---- multimodal ----

    Q("multimodal_meta",
      (s, d) => Multimodal.features(s, Tables.documents(s, d))
        .select("doc_id", "format", "n_bytes", "width", "height", "frames")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS format,
             |octet_length(CAST(text AS BLOB)) AS n_bytes,
             |CAST(16 + octet_length(CAST(text AS BLOB)) % 640 AS INT) AS width,
             |CAST(16 + (octet_length(CAST(text AS BLOB)) // 7) % 480 AS INT) AS height,
             |CAST(CASE WHEN doc_id % 3 = 2 THEN 1 + octet_length(CAST(text AS BLOB)) % 24 ELSE 1 END AS INT) AS frames
             |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      headline = true),

    // the stub decoder's "mean pixel intensity" is the mean of the raw
    // payload bytes — the oracle recomputes it by hex-decoding the BLOB
    // (double rounding 6-then-3 mirrors decodeStub + the query's round).
    Q("multimodal_features",
      (s, d) => Multimodal.features(s, Tables.documents(s, d))
        .select(col("doc_id"), col("format"), col("n_bytes"),
          round(col("mean_intensity"), 3).as("mean_intensity"))
        .orderBy("doc_id"),
      Some("""WITH b AS (
             |  SELECT doc_id, hex(CAST(text AS BLOB)) AS h, octet_length(CAST(text AS BLOB)) AS n
             |  FROM documents)
             |SELECT doc_id,
             |  CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS format,
             |  n AS n_bytes,
             |  round(round(CAST(list_sum(list_transform(range(n),
             |      i -> 16 * (strpos('0123456789ABCDEF', substr(h, 2*i+1, 1)) - 1)
             |           + (strpos('0123456789ABCDEF', substr(h, 2*i+2, 1)) - 1))) AS DOUBLE)
             |    / greatest(n, 1), 6), 3) AS mean_intensity
             |FROM b ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // REAL image decode (JDK javax.imageio): PNG/BMP fixtures are
    // encoded with (doc_id)-derived dimensions and a constant gray
    // fill, round-tripped through the actual codec readers on the
    // executors, and the oracle predicts width/height/frames/mean
    // intensity arithmetically — so a green row proves real pixels were
    // parsed, not the stub (the stub's dimensions are byte-length
    // functions and could not match this oracle).
    Q("multimodal_decode",
      (s, d) => {
        import s.implicits._
        val media = Tables.documents(s, d).select("doc_id").as[Long].map { id =>
          val w = 8 + (id % 16).toInt
          val h = 8 + (id % 12).toInt
          val gray = (id % 256).toInt
          val codec = if (id % 2 == 0) "png" else "bmp"
          Multimodal.MediaRow(id, Multimodal.encodeImage(w, h, gray, codec), codec)
        }
        Multimodal.extractFeatures(media).toDF()
          .select(col("doc_id"), col("format"), col("width"), col("height"),
            col("frames"), col("mean_intensity"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
             |CAST(8 + doc_id % 16 AS INT) AS width,
             |CAST(8 + doc_id % 12 AS INT) AS height,
             |CAST(1 AS INT) AS frames,
             |CAST(doc_id % 256 AS DOUBLE) AS mean_intensity
             |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      headline = true),

    // REAL audio decode: 16-bit PCM WAV fixtures (constant amplitude,
    // rate/frames/channels deterministic per doc_id) are encoded with the
    // JDK's WAVE writer, decoded back with javax.sound.sampled, and the
    // oracle predicts every decoded field analytically — sample rate and
    // channels from the header, duration from frames/rate, mean absolute
    // sample = the constant amplitude.
    Q("multimodal_audio",
      (s, d) => {
        import s.implicits._
        val media = Tables.documents(s, d).select("doc_id").as[Long].map { id =>
          val rate = 8000 + (id % 4).toInt * 4000
          val frames = 1600 + (id % 100).toInt * 16
          val amp = (id % 1000).toShort
          val channels = 1 + (id % 2).toInt
          Multimodal.MediaRow(id, Multimodal.encodeWav(rate, frames, amp, channels), "wav")
        }
        Multimodal.extractAudioFeatures(media).toDF()
          .select(col("doc_id"), col("sample_rate"), col("channels"),
            col("n_samples"), col("duration_sec"), col("mean_abs"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
             |CAST(1 + doc_id % 2 AS INT) AS channels,
             |CAST(1600 + (doc_id % 100) * 16 AS BIGINT) AS n_samples,
             |round(CAST(1600 + (doc_id % 100) * 16 AS DOUBLE) / (8000 + (doc_id % 4) * 4000) * 1e6, 0) / 1e6 AS duration_sec,
             |CAST(doc_id % 1000 AS DOUBLE) AS mean_abs
             |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      headline = true),

    // REAL video-container decode (pure-JDK RIFF/AVI parser — magic,
    // aligned chunk walk, LIST-hdrl descent, avih main header) over
    // generated AVI fixtures; the oracle predicts width/height/frames/
    // fps/duration analytically from the generation formulas, which the
    // byte-level stub could never match. Frame PIXEL decode remains the
    // one honest stub (no video codec exists in the JDK).
    Q("multimodal_video",
      (s, d) => {
        import s.implicits._
        val media = Tables.documents(s, d).select("doc_id").as[Long].map { id =>
          val w = 160 + (id % 16).toInt * 8
          val h = 90 + (id % 9).toInt * 8
          val frames = 24 + (id % 240).toInt
          val uspf = 20000L + (id % 5) * 10000L
          Multimodal.MediaRow(id, Multimodal.encodeAvi(w, h, frames, uspf), "avi")
        }
        Multimodal.extractVideoFeatures(media).toDF()
          .select(col("doc_id"), col("width"), col("height"),
            col("n_frames"), col("fps"), col("duration_sec"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |CAST(160 + (doc_id % 16) * 8 AS INT) AS width,
             |CAST(90 + (doc_id % 9) * 8 AS INT) AS height,
             |CAST(24 + doc_id % 240 AS INT) AS n_frames,
             |round(1e6 / (20000 + (doc_id % 5) * 10000) * 1e6, 0) / 1e6 AS fps,
             |round(CAST((24 + doc_id % 240) * (20000 + (doc_id % 5) * 10000) AS DOUBLE) / 1e6 * 1e6, 0) / 1e6 AS duration_sec
             |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")),
      headline = true),

    // REAL video frame-PIXEL decode — MJPEG-in-AVI, the one codec the
    // JDK can decode (the movi `00dc` chunks are plain JPEGs, read by
    // javax.imageio). Fixtures carry per-frame constant-gray JPEG frames
    // with (doc_id, frame_idx)-derived grays; constant-gray JPEG
    // round-trips EXACTLY through the JDK codec (DC-only blocks,
    // verified for all 256 grays and multiple dimensions), so the oracle
    // predicts every decoded per-frame mean analytically — dims from the
    // container, mean from the gray formula. A green row proves the
    // container walk found each frame chunk AND real pixels were parsed.
    Q("multimodal_mjpeg",
      (s, d) => {
        import s.implicits._
        val media = Tables.documents(s, d).select("doc_id").as[Long].map { id =>
          val w = 16 + (id % 4).toInt * 8
          val h = 16 + (id % 3).toInt * 8
          val grays = (0 until (1 + (id % 4).toInt))
            .map(k => ((id * 37 + k * 101) % 256).toInt)
          Multimodal.MediaRow(id,
            Multimodal.encodeMjpegAvi(w, h, grays, 40000L), "avi")
        }
        Multimodal.extractVideoFrames(media).toDF()
          .select(col("doc_id"), col("frame_idx"), col("width"),
            col("height"), col("mean_intensity"))
          .orderBy("doc_id", "frame_idx")
      },
      Some("""WITH f AS (SELECT doc_id, unnest(range(1 + doc_id % 4)) AS k FROM documents)
             |SELECT doc_id, CAST(k AS INT) AS frame_idx,
             |CAST(16 + (doc_id % 4) * 8 AS INT) AS width,
             |CAST(16 + (doc_id % 3) * 8 AS INT) AS height,
             |CAST((doc_id * 37 + k * 101) % 256 AS DOUBLE) AS mean_intensity
             |FROM f ORDER BY doc_id, frame_idx""".stripMargin.replace("\n", " ")),
      headline = true),

    // REAL raw-frame pixel decode — uncompressed (RAW-DIB) AVI, the
    // other codec pure JDK can handle: the movi `00db` chunks are bare
    // bottom-up BGR rows whose geometry lives in the strf
    // BITMAPINFOHEADER, decoded with arithmetic alone. Constant-gray
    // frames mean EXACTLY their gray (no codec round-trip at all), and
    // widths are chosen so 3·w is never a multiple of 4 — every row
    // carries alignment padding the decoder must exclude, which the
    // analytic oracle would catch (zero padding pulls means low).
    Q("multimodal_rawdib",
      (s, d) => {
        import s.implicits._
        val media = Tables.documents(s, d).select("doc_id").as[Long].map { id =>
          val w = 17 + (id % 4).toInt * 8
          val h = 12 + (id % 3).toInt * 8
          val grays = (0 until (1 + (id % 4).toInt))
            .map(k => ((id * 53 + k * 97) % 256).toInt)
          Multimodal.MediaRow(id,
            Multimodal.encodeRawDibAvi(w, h, grays, 40000L), "avi")
        }
        Multimodal.extractVideoFrames(media).toDF()
          .select(col("doc_id"), col("frame_idx"), col("width"),
            col("height"), col("mean_intensity"))
          .orderBy("doc_id", "frame_idx")
      },
      Some("""WITH f AS (SELECT doc_id, unnest(range(1 + doc_id % 4)) AS k FROM documents)
             |SELECT doc_id, CAST(k AS INT) AS frame_idx,
             |CAST(17 + (doc_id % 4) * 8 AS INT) AS width,
             |CAST(12 + (doc_id % 3) * 8 AS INT) AS height,
             |CAST((doc_id * 53 + k * 97) % 256 AS DOUBLE) AS mean_intensity
             |FROM f ORDER BY doc_id, frame_idx""".stripMargin.replace("\n", " ")),
      headline = true),

    // Per-frame audio DSP — RMS + zero-crossing rate over REAL decoded
    // 16-bit PCM windows (the silence-gate / speech-music features of
    // an audio curation pipeline). Square-wave fixtures make both
    // analytically predictable: RMS is EXACTLY the amplitude, and the
    // ZCR of window f is a pure integer formula of the offset and the
    // half-period — a green row proves actual sample parsing, not
    // header plumbing.
    Q("multimodal_audio_frames",
      (s, d) => {
        import s.implicits._
        val media = Tables.documents(s, d).select("doc_id").as[Long].map { id =>
          Multimodal.MediaRow(id,
            Multimodal.encodeSquareWav(16000,
              64 + (id % 3).toInt * 32,
              (1000 + (id % 16) * 500).toShort,
              1 + (id % 4).toInt), "audio")
        }
        Multimodal.extractAudioFrames(media, frameSize = 32).toDF()
          .orderBy("doc_id", "frame_idx")
      },
      Some("""WITH d AS (SELECT doc_id, 1 + doc_id % 4 AS h,
             |                  CAST(1000 + (doc_id % 16) * 500 AS DOUBLE) AS a,
             |                  (64 + (doc_id % 3) * 32) // 32 AS wins
             |           FROM documents),
             |f AS (SELECT doc_id, h, a, unnest(range(wins)) AS fi FROM d)
             |SELECT doc_id, CAST(fi AS INT) AS frame_idx, a AS rms,
             |       round(CAST((32 * fi + 31) // h - (32 * fi) // h AS DOUBLE) / 31, 6) AS zcr
             |FROM f ORDER BY doc_id, frame_idx""".stripMargin.replace("\n", " ")),
      headline = true),

    // frame sampling over the video rows; sampled-frame byte lengths are
    // a deterministic function of payload size, so the oracle recomputes
    // them from octet_length alone.
    Q("multimodal_frames",
      (s, d) => Multimodal.sampleFrames(
        Multimodal.mediaFromDocuments(s, Tables.documents(s, d)), everyN = 4).toDF()
        .select(col("doc_id"), col("frame_idx"), length(col("frame")).as("frame_bytes"))
        .orderBy("doc_id", "frame_idx"),
      Some("""WITH v AS (
             |  SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n,
             |         1 + octet_length(CAST(text AS BLOB)) % 24 AS frames
             |  FROM documents WHERE doc_id % 3 = 2),
             |f AS (
             |  SELECT doc_id, n, frames, greatest(n // frames, 1) AS fsize,
             |         unnest(range(0, frames, 4)) AS frame_idx
             |  FROM v)
             |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
             |       CAST(greatest(least(n, frame_idx * fsize + fsize) - frame_idx * fsize, 0) AS INT) AS frame_bytes
             |FROM f ORDER BY doc_id, frame_idx""".stripMargin.replace("\n", " "))),

    // Z-order layout key (`operators/Layout`): the Morton interleave of
    // range-bucketed (user_id, event-hour) that writeZOrdered clusters
    // files by, so row-group stats prune on BOTH dimensions. Pure
    // integer/double arithmetic — DuckDB replays bucket + interleave
    // bit-for-bit; LayoutSpec measures the per-file-span locality claim.
    Q("layout_zorder",
      (s, d) => {
        val e = Tables.events(s, d)
          .withColumn("hour", expr("unix_micros(ts) div 3600000000"))
        val bounds = e.agg(
          min("user_id").as("ulo"), max("user_id").as("uhi"),
          min("hour").as("hlo"), max("hour").as("hhi"))
        e.crossJoin(broadcast(bounds))
          .select(
            col("event_id"),
            Layout.zorderKey(
              col("user_id"), col("ulo"), col("uhi"),
              col("hour"), col("hlo"), col("hhi"), bits = 8).as("zkey"))
          .orderBy("event_id")
      },
      Some {
        val interleave = (0 until 8).map { i =>
          s"((((ub >> $i) & 1) << ${2 * i + 1}) | (((hb >> $i) & 1) << ${2 * i}))"
        }.mkString(" | ")
        s"""WITH b AS (
           |  SELECT min(user_id) AS ulo, max(user_id) AS uhi,
           |         min(epoch_us(ts) // 3600000000) AS hlo,
           |         max(epoch_us(ts) // 3600000000) AS hhi
           |  FROM events),
           |k AS (
           |  SELECT event_id,
           |         CAST(floor((user_id - ulo) * 256.0 / (uhi - ulo + 1)) AS BIGINT) AS ub,
           |         CAST(floor((epoch_us(ts) // 3600000000 - hlo) * 256.0 / (hhi - hlo + 1)) AS BIGINT) AS hb
           |  FROM events, b)
           |SELECT event_id, CAST($interleave AS BIGINT) AS zkey
           |FROM k ORDER BY event_id""".stripMargin.replace("\n", " ")
      })
  )
}
