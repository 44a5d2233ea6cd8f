package graft

import org.apache.spark.sql.execution.SimpleMode

/** Plan-shape regression tests: the properties SCALE.md claims must stay
  * visible in `.explain` — pushed filters, pruned scans, broadcast dim
  * joins, top-K without global sort. A refactor that silently loses one
  * of these passes correctness but regresses 100 TB behavior; these
  * specs make that a test failure.
  */
class PlanSpec extends SparkTestBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf001).queryExecution.explainString(SimpleMode)

  test("dimension joins broadcast (no shuffle of the fact side)") {
    assert(plan("q_join_customer").contains("BroadcastHashJoin"))
    assert(plan("q_revenue_by_nation").contains("BroadcastHashJoin"))
  }

  test("filters reach the parquet scan") {
    val p = plan("q_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
  }

  test("scans are column-pruned") {
    val p = plan("q_pricing_summary")
    // ReadSchema must not include l_orderkey/l_partkey/l_suppkey etc.
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_orderkey") && !read.contains("l_partkey"))
    val p2 = plan("q_count_by_type")
    val read2 = p2.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read2.contains("event_type") && !read2.contains("props"))
  }

  test("top-K compiles to TakeOrderedAndProject, not a global sort") {
    assert(plan("q_top_suppliers").contains("TakeOrderedAndProject"))
    assert(plan("q_top_pages").contains("TakeOrderedAndProject"))
  }

  test("aggregations ship partial (map-side) aggregates") {
    assert(plan("q_count_by_type").contains("partial_count"))
    assert(plan("q_pricing_summary").contains("partial_sum"))
  }

  test("kmv theta sketches aggregate object buffers map-side") {
    // the sketch buffer is a typed object aggregate: partial sketches
    // build next to the scan (ObjectHashAggregate partial stage) and
    // only k-hash buffers cross the exchange — never per-key rows
    val p = plan("q_theta_overlap")
    assert(p.contains("ObjectHashAggregate"))
    assert(p.contains("partial_kmvagg") || p.toLowerCase.contains("partial_kmv"))
  }

  test("sessionization shuffles once on user_id") {
    val p = plan("q_sessionize")
    val exchanges = p.linesIterator.count(_.trim.startsWith("+- Exchange hashpartitioning(user_id"))
    assert(exchanges == 1, s"expected exactly one user_id exchange:\n$p")
  }

  test("semi/anti joins stay semi/anti at the physical level") {
    assert(plan("q_semi_join").contains("LeftSemi"))
    assert(plan("q_anti_join").contains("LeftAnti"))
  }

  test("as-of join is one window pass — no join node, no range explosion") {
    val p = plan("q_asof_attribution")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"as-of must not plan a theta join:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"as-of should be a window pass:\n$p")
  }

  test("range join is an equi-join on buckets, not a nested loop") {
    val p = plan("q_range_join")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"bucketed range join must not plan a nested loop:\n$p")
    assert(p.contains("Join") && p.contains("_bucket"),
      s"expected an equi-join keyed on _bucket:\n$p")
  }

  test("embedding math is the native dot_vec expression, not interpreted HOFs") {
    val p = plan("sim_cosine_neardup")
    assert(p.contains("dotvec") || p.contains("dot_vec"),
      s"cosine should compile to the native expression:\n$p")
    assert(!p.contains("zip_with") && !p.contains("aggregate(zip_with"),
      s"no interpreted higher-order fallback allowed on the pair scan:\n$p")
  }

  test("winnowing fingerprints use the native window_minima expression") {
    val p = plan("text_fingerprint_words")
    assert(p.contains("windowminima") || p.contains("window_minima"),
      s"winnowing should compile to the native expression:\n$p")
  }

  test("global ranking is one range shuffle — no single-partition, no second exchange") {
    import org.apache.spark.sql.functions._
    // the distributed core of Ranking: one range shuffle + an in-stage
    // mapPartitions rank. An unpartitioned window would show
    // `SinglePartition`; a window over spark_partition_id() would add a
    // second full-frame hash exchange on top of the aggregate's.
    val totals = Tables.events(spark, sf001).groupBy("user_id")
      .agg(count(lit(1)).as("n"))
    val core = graft.operators.Ranking
      .localRanked(totals, col("n"), ascending = false, dense = false)
    val p = core.queryExecution.explainString(SimpleMode)
    assert(p.contains("rangepartitioning"),
      s"ranking must range-partition on the sort key:\n$p")
    assert(!p.contains("SinglePartition"),
      s"ranking must not plan a single-partition exchange:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    // one for the input aggregate, one range shuffle for the ranking —
    // nothing else
    assert(exchanges == 2,
      s"expected exactly the aggregate + range exchanges, got $exchanges:\n$p")
    // and the full gate query keeps that property end to end
    assert(!plan("q_user_rank").contains("SinglePartition"))
  }

  test("LSH ANN never shuffles or distincts embedding vectors") {
    val p = plan("sim_lsh_ann")
    val aggs = p.linesIterator.filter(_.contains("HashAggregate(keys=")).toSeq
    assert(aggs.nonEmpty, s"expected a candidate-pair distinct:\n$p")
    aggs.foreach { l =>
      assert(!l.contains("embedding") && !l.contains("va#") && !l.contains("vb#"),
        s"distinct must key on ids only, not vectors: $l")
    }
  }

  test("multimodal pipelines keep media bytes out of every shuffle") {
    for (q <- Seq("multimodal_meta", "multimodal_features", "multimodal_frames")) {
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q must not hash-shuffle the media payload (only the final " +
          s"ORDER BY's range exchange is allowed):\n$p")
      p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
        assert(!l.contains("media#") && !l.contains("frame#"),
          s"$q shuffles media bytes: $l")
      }
    }
  }

  test("decontamination never shuffles the corpus — pairs run join-free in the scan stage") {
    // decon_pairs (r14): the reference side is a broadcast inverted
    // index probed by the native ref_jaccard_pairs expression — the
    // whole operator is ONE corpus scan + generate; the only exchange
    // allowed is the final ORDER BY's range partitioning
    val pp = plan("decon_pairs")
    assert(!pp.contains("Join"),
      s"decon_pairs must be join-free (broadcast index in the scan stage):\n$pp")
    assert(pp.contains("ref_jaccard_pairs"),
      s"decon_pairs must probe the native index expression:\n$pp")
    assert(pp.linesIterator.filter(_.contains("Exchange"))
        .forall(_.contains("rangepartitioning")),
      s"only the final sort may exchange:\n$pp")
    // decon_ngram13 keeps the broadcast posting join (long shingles are
    // near-unique — the join output IS the true contamination)
    val pn = plan("decon_ngram13")
    assert(!pn.contains("SortMergeJoin") && !pn.contains("ShuffledHashJoin"),
      s"decon_ngram13 must broadcast the reference side:\n$pn")
    assert(pn.contains("BroadcastHashJoin"),
      s"decon_ngram13 should plan broadcast joins:\n$pn")
  }

  test("stratified sampling pushes the per-stratum filter into one scan pass") {
    val p = plan("corpus_sample_stratified")
    assert(!p.contains("Exchange") || p.contains("rangepartitioning"),
      s"sampling must not shuffle (only the final ORDER BY may):\n$p")
    assert(p.contains("Filter"), s"expected a codegen'd filter:\n$p")
  }

  test("vocabulary collapses token streams map-side and never shuffles raw text") {
    val p = plan("vocab_topk")
    assert(p.contains("TakeOrderedAndProject"), s"top-100 must not global-sort:\n$p")
    assert(p.contains("partial_count"), s"expected map-side combine:\n$p")
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("text#"), s"vocabulary shuffled raw document text: $l")
    }
  }

  test("tfidf ranking window is doc-partitioned with a pushed group limit") {
    val p = plan("text_tfidf_keywords")
    // Spark's rank-limit pushdown: per-partition top-k BEFORE the window
    // shuffle, so no executor ever sorts more than k rows per document
    // past the partial stage — and the window itself partitions by doc
    // (a bare global window would be the q_user_rank anti-pattern).
    assert(p.contains("WindowGroupLimit [doc_id"),
      s"expected a doc-partitioned WindowGroupLimit:\n$p")
    // the corpus doc count arrives as a broadcast single-row aggregate,
    // not a driver-side action
    assert(p.contains("BroadcastExchange IdentityBroadcastMode"),
      s"n_docs should broadcast, not collect:\n$p")
  }

  test("market share (Q8) broadcasts every dimension; at most the fact-fact join shuffles") {
    val p = plan("q_market_share")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    val shuffled = "SortMergeJoin".r.findAllIn(p).size +
      "ShuffledHashJoin".r.findAllIn(p).size
    assert(bhj >= 6, s"expected >=6 broadcast joins in the 7-table plan:\n$p")
    assert(shuffled <= 1, s"only lineitem×orders may shuffle:\n$p")
  }

  test("partsupp family: dims broadcast, composite fact join is the only heavy shuffle") {
    // Q9 shape — part / supplier→nation dims broadcast; the composite
    // (l_partkey, l_suppkey) partsupp join and lineitem×orders are the
    // only joins allowed to shuffle
    val q9 = plan("q_product_profit")
    assert("BroadcastHashJoin".r.findAllIn(q9).size >= 2,
      s"part + supplier-nation must broadcast:\n$q9")
    // Q2 shape — region suppliers broadcast, min-cost agg re-join keys
    // on ps_partkey, part filter broadcast
    val q2 = plan("q_min_cost_supplier")
    assert("BroadcastHashJoin".r.findAllIn(q2).size >= 2,
      s"euro suppliers + filtered part must broadcast:\n$q2")
    // Q11 shape — the grand total joins as a broadcast 1-row aggregate,
    // never a correlated rescan
    val q11 = plan("q_important_stock")
    assert(q11.contains("BroadcastNestedLoopJoin") || q11.contains("BroadcastHashJoin"),
      s"the total must broadcast:\n$q11")
  }

  test("domain cap rank filter is a per-source WindowGroupLimit; weighted sample avoids a global sort") {
    val p = plan("corpus_domain_cap")
    assert(p.contains("WindowGroupLimit [source"),
      s"expected a source-partitioned WindowGroupLimit:\n$p")
    // the weighted draw's top-k must stay a heap-merge, not a full sort
    assert(plan("corpus_sample_weighted").contains("TakeOrderedAndProject"))
  }

  test("span census aggregates key on the 64-bit gram hash, not the gram text") {
    val p = plan("dedup_spans")
    val keyed = p.linesIterator.filter(_.contains("Aggregate(key")).toSeq
    assert(keyed.exists(_.contains("key=[_gh")), s"final agg must key on the hash:\n$p")
    keyed.foreach { l =>
      assert(!l.contains("key=[gram#") && !l.contains("keys=[gram#"),
        s"aggregate keyed on raw gram text: $l")
    }
    // the census (count-bearing) aggregations must not shuffle gram
    // strings either — text only appears in the survivor-attach phase
    p.linesIterator.filter(l => l.contains("Exchange hashpartitioning") &&
        l.contains("n_docs")).foreach { l =>
      assert(!l.contains("gram#"), s"census exchange carried gram text: $l")
    }
  }

  test("bloom decontamination filters corpus postings before the exact join") {
    val p = plan("decon_bloom")
    assert(p.contains("bloom_might_contain(s#"),
      s"native bloom might-contain filter missing from the posting stream:\n$p")
    assert(!p.contains("UDF"), s"bloom probe must be codegen'd, not a UDF:\n$p")
    // every hash exchange carries only candidate ids, never documents
    p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(!l.contains("text#"), s"bloom decon shuffled a document: $l")
    }
  }

  test("span removal: census and hit shuffles carry gram hashes, never gram text") {
    val p = plan("dedup_span_removal")
    p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(!l.contains("gram#"), s"span removal shuffled gram text: $l")
    }
    // the document text crosses an exchange at most once — the final
    // doc_id join that attaches cut lists (bucket the corpus to kill it)
    val textShuffles = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning") && l.contains("text#"))
    assert(textShuffles <= 1, s"text must shuffle at most once:\n$p")
  }

  test("frequency stats never shuffle document text") {
    val p = plan("text_freq_stats")
    p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(!l.contains("text#"), s"frequency stats shuffled a document: $l")
    }
  }

  test("pq scoring is native dot_vec over codes — vectors never shuffle") {
    val p = plan("sim_pq_topk")
    assert(p.contains("dotvec("), s"PQ must score with the native expression:\n$p")
    // corpus embeddings are consumed in the scan-stage encode projection;
    // no hash exchange may carry a raw or reconstructed vector
    p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(!l.contains("embedding#") && !l.contains("_v#") && !l.contains("_xhat#"),
        s"PQ shuffled a vector: $l")
    }
  }

  test("ivf-pq: corpus vectors and reconstructions never hash-shuffle") {
    val p = plan("sim_ivfpq_topk")
    // the query side (with its exploded probe cells) broadcasts — the
    // corpus side must stay in its scan stage through the cell join
    assert(p.contains("BroadcastExchange"), s"query side must broadcast:\n$p")
    p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(!l.contains("embedding#") && !l.contains("_xhat#") && !l.contains("qv#"),
        s"ivf-pq shuffled a vector: $l")
    }
  }

  test("chunking is a pure scan-stage explode — no exchange at all") {
    val p = plan("text_chunks")
    // the gate's ORDER BY adds one range exchange for output
    // determinism; chunk construction itself must add none
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"chunking must not shuffle:\n$p")
  }

  test("diversity sampling shuffles only (id, cell) — vectors stay in the scan") {
    val p = plan("sim_diversity_sample")
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("embedding#"), s"diversity sample shuffled a vector: $l")
    }
  }

  test("binary ANN: hamming scan shuffles codes and ids, never a vector") {
    val p = plan("sim_binary_topk")
    // queries broadcast for the code scan AND the rerank
    assert(p.contains("BroadcastExchange"), s"query side must broadcast:\n$p")
    // the shortlist window + rerank join may hash-shuffle, but only
    // (ids, hamming) — never an embedding or a packed code
    p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(!l.contains("embedding#") && !l.contains("qv#") && !l.contains("cv#"),
        s"binary ANN shuffled a vector: $l")
    }
  }

  test("binary ANN: two-phase shortlist — no per-query exchange of the full scan") {
    val p = plan("sim_binary_topk")
    val exchanges = p.linesIterator.toSeq.zipWithIndex
      .filter(_._1.contains("Exchange hashpartitioning"))
    // the scan must first truncate per (query, scan-partition): a
    // balanced exchange keyed on spark_partition_id feeds the local
    // window, and codes are projected away before it
    val pidExchanges = exchanges.filter(_._1.contains("_pid#"))
    assert(pidExchanges.nonEmpty,
      s"hamming scan must pre-truncate per (query_id, spark_partition_id):\n$p")
    pidExchanges.foreach { case (l, _) =>
      assert(!l.contains("qc#") && !l.contains("cc#"),
        s"local-shortlist exchange must not carry packed codes: $l")
    }
    // every per-query-only exchange (the global shortlist ranking and
    // the final rerank window) must sit ABOVE the _pid exchange in the
    // plan — i.e. consume the truncated shortlist, never the raw scan.
    // Formatted plans print root-first, so "above" = smaller line index.
    val deepestPid = pidExchanges.map(_._2).max
    exchanges.filterNot(_._1.contains("_pid#")).foreach { case (l, i) =>
      assert(i < deepestPid,
        s"a per-query exchange consumes the full scan (single reducer per query at scale): $l\n$p")
    }
  }

  test("perplexity: token join is the only wide exchange; totals broadcast") {
    val p = plan("text_perplexity")
    assert(p.contains("BroadcastExchange"),
      s"corpus totals must broadcast as a single-row aggregate:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"token counts must combine map-side:\n$p")
    // no exchange may carry raw document text — tokens hash, text stays
    // in the scan stage
    p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(!l.contains("text#"), s"perplexity shuffled document text: $l")
    }
  }

  test("split assignment is a pure scan-stage projection — no hash exchange") {
    val p = plan("corpus_split")
    // the gate's ORDER BY adds one range exchange for output
    // determinism; the assignment itself must add none
    assert(!p.contains("Exchange hashpartitioning"),
      s"hash-of-group split must not shuffle:\n$p")
  }

  test("forecast revenue is a pushed-filter scan plus one partial aggregate") {
    val p = plan("q_forecast_revenue")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"shipdate filter must reach the scan:\n$p")
    assert(p.contains("partial_sum"), s"aggregate must ship partials:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"a global scalar aggregate needs no hash exchange:\n$p")
  }

  test("small-quantity revenue broadcasts the filtered part dimension") {
    val p = plan("q_small_qty_revenue")
    assert(p.contains("BroadcastHashJoin"), s"part dim must broadcast:\n$p")
  }

  test("page transitions: JSON page key extracted in the scan stage, props never shuffles") {
    val p = plan("q_page_transitions")
    p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(!l.contains("props#"), s"raw props JSON crossed an exchange: $l")
    }
  }

  test("funnel stages aggregate then join on user_id — no event-wide shuffle of payloads") {
    val p = plan("q_funnel")
    p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(!l.contains("props#") && !l.contains("value#"),
        s"funnel shuffled non-key event payload: $l")
    }
  }

  test("engagement KPIs never shuffle event payloads") {
    // all engagement shuffles key on (user/day/bucket)-sized columns;
    // the props JSON must never appear in an exchange's partitioning
    // (value# would ride in aggregate buffers, which Exchange lines
    // don't print — so only the props check is falsifiable here)
    Seq("q_rolling_active", "q_new_vs_returning", "q_activity_histogram")
      .foreach { name =>
        val p = plan(name)
        p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
          assert(!l.contains("props#"), s"$name shuffled props: $l")
        }
      }
  }

  test("activity histogram is exactly two cascaded hash aggregates") {
    val p = plan("q_activity_histogram")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 2, s"expected user + bucket exchanges only:\n$p")
  }

  test("span census hashes n-grams via the native expression, not per-window HOFs") {
    // the r15 hashed_ngrams rewrite (one tight loop per document) must
    // stay in the physical plan: the HOF form it replaced —
    // xxhash64(slice(_wh, ...)) re-entered per window — silently
    // returning would multiply the span family's per-task CPU
    // (VERDICT r15 #2: pin the expression, not just the result).
    // dedup_spans is the one span gate whose final explain SHOWS the
    // expression (its report phase is not checkpointed); the other
    // family members consume it behind localCheckpoint'd frames
    // (ExistingRDD leaves), where no final plan can show it — their
    // behavior rides on the same hashedNgramsAll helper.
    val p = plan("dedup_spans")
    assert(p.contains("hashedngrams"),
      s"dedup_spans lost the native hashed_ngrams expression:\n$p")
    assert(!p.contains("xxhash64(slice("),
      s"dedup_spans re-grew a per-window xxhash64(slice(...)):\n$p")
  }

  test("exact LSH enumeration never distincts/aggregates candidate pairs") {
    // probed on the pre-checkpoint candidates frame — every gate's
    // final explain hides the enumeration behind the core's
    // localCheckpoints. The per-band joins emit each pair once at its
    // first colliding band BY CONSTRUCTION; a Distinct/Aggregate
    // appearing here means the collision multiplicity got materialized
    // (the r15 exploded experiment's killer).
    val docs = Tables.documents(spark, sf001).select("doc_id", "text")
      .filter(org.apache.spark.sql.functions.col("doc_id") < 200)
    // bands broadcast-probe joins, no distinct
    val p = operators.Dedup.minhashCandidatesPlanProbe(docs)
      .queryExecution.explainString(SimpleMode)
    assert(!p.contains("HashAggregate") && !p.contains("Distinct"),
      s"candidate pairs must not be distinct'd/aggregated:\n$p")
  }
}
