package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FormattedMode

/** Physical-plan regression net: the 100 TB contracts that `.explain`
  * audits found by hand (BENCH notes) are pinned here so a refactor
  * can't silently lose them. Assertions are on the FORMATTED plan
  * string — coarse on purpose: operator presence/absence, not shapes
  * Catalyst is free to vary (AQE, partition counts).
  *
  * Only lazily-constructed batch queries are sweepable: `stream_*`
  * queries execute their StreamGate on construction, and a few batch
  * entries run side-effecting setup (reload, external pipes) — those
  * are covered by their own specs/oracles instead.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.explainString(FormattedMode)

  test("q1_agg: column pruning reaches the lineitem scan; agg is two-phase") {
    val p = plan("q1_agg")
    // only the 5 needed columns in ReadSchema — a scan reading all of
    // lineitem for a 5-column agg would be wrong at any scale
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("l_returnflag") && read.contains("l_quantity"))
    assert(!read.contains("l_shipdate") && !read.contains("l_comment"),
      s"unpruned scan: $read")
    // map-side combine: partial aggregate before the exchange
    assert(p.contains("HashAggregate"))
    assert(p.contains("Exchange"))
  }

  test("q3_join: small dim broadcasts, no cartesian, one shuffle join tier") {
    val p = plan("q3_join")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "filtered customer dim must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("prifilt: the PRI mask is a literal-array filter, not a UDF barrier") {
    val p = plan("prifilt")
    // the selector compiles to element_at(<256-entry bool mask>, fac*8+sev)
    // — pure codegen-able expression; a UDF here would break WSCG at scale
    assert(p.contains("element_at"), "PRI mask must compile to the mask probe")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "PRI mask filter must be a codegen'd boolean expr")
  }

  test("propfilt: pushable predicate reaches the documents parquet scan") {
    val p = plan("propfilt")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    // rs_contains compiles to Contains — pushable; re_match is not,
    // and must NOT block the pushable part from reaching the scan
    assert(pushed.contains("IsNotNull") || pushed.contains("StringContains"),
      s"no pushed filters on the scan: $pushed")
  }

  test("lookup_string: broadcast-free map-literal probe (no join, one agg shuffle)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{
      ENSURE_REQUIREMENTS, REPARTITION_BY_NUM, ShuffleExchangeExec}
    // executedPlan is an AdaptiveSparkPlanExec leaf under AQE: a plain
    // `collect` never descends into it and finds nothing at all
    val aqe = new AdaptiveSparkPlanHelper {}
    val phys = SparkEntry.queries("lookup_string")(spark, dir)
      .queryExecution.executedPlan
    val shuffles = aqe.collect(phys) { case e: ShuffleExchangeExec => e }
    val joins = aqe.collect(phys) { case j if j.nodeName.contains("Join") => j }
    assert(joins.isEmpty, s"a 4-entry lookup table must not plan a join: $joins")
    val (agg, rest) = shuffles.partition(_.shuffleOrigin == ENSURE_REQUIREMENTS)
    assert(agg.size == 1, s"expected exactly one agg exchange, got: $agg")
    // the only other shuffle allowed is Tables.rebalance's round-robin
    // redistribute of the split-starved events scan
    assert(rest.forall(_.shuffleOrigin == REPARTITION_BY_NUM),
      s"unexpected shuffles besides the agg exchange: $rest")
  }

  test("geo_enrich: range table broadcasts (never a shuffled theta-join)") {
    val p = plan("geo_enrich")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "5-row range dim must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("dedup_exact: fingerprint groupBy is partial-aggregated before its shuffle") {
    val p = plan("dedup_exact")
    assert(p.contains("HashAggregate") && p.contains("Exchange"))
    assert(!p.contains("CartesianProduct"))
  }

  test("dedup_verified: semi-join-bounded texts + fused per-pair Jaccard") {
    // the verifier must never touch the whole corpus: the corpus scan is
    // filtered by a semi join against the candidate vertex set before
    // the texts ride the pair join (the 100 TB contract). And the pair
    // join must carry TEXTS through the fused JaccardTextsExpr kernel —
    // carrying shingle-STRING arrays instead moved ~230 GB at the sf100
    // probe (see NOTES_r11.md)
    val p = plan("dedup_verified")
    assert(p.toLowerCase.contains("leftsemi"),
      "candidate semi join missing — texts would ride corpus-wide")
    assert(p.contains("jaccard_texts"),
      "verify must use the fused two-text kernel, not array-carrying joins")
    assert(!p.contains("CartesianProduct"))
  }

  test("sample_domain_mix: the rate-table draw is a scan-side filter below the loader rebalance") {
    // the ONLY Exchange is Tables.documents' small-file rebalance; the
    // md5-draw filter sits between it and the scan, so at corpus scale
    // (no rebalance) the operator is a pure pushable filter
    val p = plan("sample_domain_mix")
    val lines = p.linesIterator.toSeq
    val fl = lines.indexWhere(l => l.contains("Filter") && l.contains("+-"))
    val ex = lines.indexWhere(l => l.contains("Exchange") && l.contains("+-"))
    assert(fl >= 0 && ex >= 0 && fl > ex,
      s"filter must be scan-side (below the rebalance):\n$p")
    assert("Exchange \\(".r.findAllIn(p).size <= 1,
      "operator added its own shuffle on top of the loader rebalance")
  }

  test("chunk_tokens: narrow explode/slice below the loader rebalance, no operator shuffle") {
    val p = plan("chunk_tokens")
    assert(p.contains("Generate"), "explode(sequence) missing")
    assert("Exchange \\(".r.findAllIn(p).size <= 1,
      "token chunking is per-document — an operator shuffle would be a scale bug")
  }

  test("omfwd_pool_stats: per-target tally partial-aggregates before its shuffle") {
    val p = plan("omfwd_pool_stats")
    val firstAgg = p.indexOf("HashAggregate")
    val exch = p.indexOf("Exchange")
    assert(firstAgg >= 0 && exch >= 0, "agg/exchange missing")
  }

  test("quality_gopher: one pruned scan, pure projections — no join, no agg") {
    val p = plan("quality_gopher")
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("doc_id") && read.contains("text"))
    assert(!read.contains("lang") && !read.contains("source"),
      s"unpruned documents scan: $read")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      "the rule battery must stay a scan-bound projection")
  }

  test("lm_score: count tables partial-aggregate and broadcast; |V| is a literal") {
    val p = plan("lm_score")
    // map-side combine on both count tables before their exchanges
    assert(p.indexOf("HashAggregate") >= 0 && p.contains("Exchange"))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      "vocabulary-sized count tables must broadcast at gate scale")
    // the smoothing denominator is a collected scalar, not a cross join
    assert(!p.contains("CartesianProduct"))
  }

  test("tfidf_topk: the df join broadcasts the vocabulary side") {
    // the AUTO gate (default): the sampled distinct-term estimate at
    // test scale is far under broadcastVocabMax, so the broadcast must
    // be pinned. df is vocabulary-sized — re-shuffling the corpus-sized
    // (doc, term) side on term to meet it would be the dominant cost at
    // scale (VERDICT r10 #7)
    val p = plan("tfidf_topk")
    assert(p.contains("BroadcastHashJoin"),
      "tfidf df join must be a broadcast hash join")
    assert(!p.contains("SortMergeJoin"),
      "no shuffled join tier in tfidf")
  }

  test("tfidf_topk: forced-off override pins no broadcast hint") {
    // open-vocabulary escape hatch (ADVICE r11 / VERDICT r12 #5): with
    // vocabBroadcast = Some(false) no broadcast HINT is pinned — the
    // planner chooses from size estimates and AQE re-plans from runtime
    // stats (at test scale the tiny vocab still broadcasts, which is
    // exactly the gate's point: size-based, not forced). The failure
    // mode the flag guards is a FORCED broadcast hint that overrides
    // size estimates at billion-term scale.
    def hinted(v: Option[Boolean]): Boolean =
      operators.TextAnalysis.tfidfTopK(
          Tables.documents(spark, dir), "doc_id", "text", vocabBroadcast = v)
        .queryExecution.optimizedPlan.toString.contains("strategy=broadcast")
    assert(!hinted(Some(false)), "forced-off gate must not pin a broadcast hint")
    // the auto gate at test scale (tiny vocab) must still pin it
    assert(hinted(None), "auto gate under threshold must pin the broadcast hint")
  }

  test("decontaminate_fuzzy: eval grams broadcast; intersection combines") {
    val p = plan("decontaminate_fuzzy")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "the eval-set gram explosion must broadcast")
    assert(p.contains("HashAggregate"), "intersection count must hash-agg")
    assert(!p.contains("CartesianProduct"))
  }

  test("decontaminate_semantic: eval bands broadcast; max-sim combines; no cartesian") {
    val p = plan("decontaminate_semantic")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "the banded eval side must broadcast (eval sets are benchmark-sized)")
    assert(p.contains("HashAggregate"), "per-train max-sim must hash-agg")
    assert(!p.contains("CartesianProduct"),
      "LSH banding exists precisely to avoid train × eval")
  }

  test("cluster_topics: literal codebook projection + one combinable groupBy, no join") {
    val p = plan("cluster_topics")
    assert(!p.contains("Join"), "codebook must ride as literals, not a join")
    assert(p.contains("HashAggregate"), "per-cluster stats must hash-agg")
    assert(!p.contains("CartesianProduct"))
  }

  test("dedup_url: one pruned scan + one combinable groupBy, no join") {
    val p = plan("dedup_url")
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!read.contains("text"), s"URL dedup must not read text: $read")
    assert(!p.contains("Join"), "URL key dedup is a single groupBy")
    assert(p.contains("HashAggregate"))
  }

  test("dedup_lines: hint-free anti-join on the 32-byte md5 key (AQE decides)") {
    // the hot-line table is NOT bounded by construction on a web corpus
    // (every site's nav/footer variants repeat >= minRepeat corpus-wide;
    // VERDICT r11 #2) — a forced broadcast() would OOM there with no
    // fallback, so the join must carry no hint and let AQE choose from
    // runtime sizes (it picks broadcast at every test SF, shuffled
    // skew-split left-anti at web scale)
    val df = SparkEntry.queries("dedup_lines")(spark, dir)
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h }
    assert(hints.isEmpty, "hot-line anti-join must not force a broadcast")
    val p = plan("dedup_lines")
    assert(p.contains("LeftAnti"), "hot-line removal must be a left-anti join")
    assert(p.contains("md5"),
      "anti-join key must be the fixed-width md5, not the line text")
  }

  test("quality_calibration: scan-bound flags + one combinable groupBy") {
    val p = plan("quality_calibration")
    assert(!p.contains("Join"),
      "flags must be computed inline (keep=source), not joined back")
    assert(p.contains("HashAggregate"))
  }

  test("dedup_semantic: capped cluster pairing, no all-pairs cross product") {
    val p = plan("dedup_semantic")
    // within-cell pairing goes through the collect_list kernel
    assert(p.contains("ObjectHashAggregate"),
      "cluster members must group through the capped bucketPairs kernel")
    assert(!p.contains("CartesianProduct"))
  }

  test("ngram_hot: candidate semi-join broadcasts; recount combines") {
    // the two-pass contract: the exact recount must only ever see the
    // capacity-bounded candidate set, broadcast to the gram scan — a
    // shuffled semi-join here would re-shuffle the gram stream the
    // sketch exists to avoid
    val p = plan("ngram_hot")
    assert(p.toLowerCase.contains("leftsemi"), "candidate semi-join missing")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      "the <=capacity candidate set must broadcast")
    assert(p.contains("HashAggregate"), "recount must partial-aggregate")
    assert(!p.contains("CartesianProduct"))
  }

  test("ann_pq: ADC scoring is join-free — one scan over the code projection") {
    // PQ's whole point at scale: queries score CODES via literal lookup
    // tables, so the plan is scan → code projection → posexplode →
    // windows. Any join here means the embedding column leaked back
    // into the scoring path.
    val p = plan("ann_pq")
    assert(!p.contains("Join"), "ADC scoring must not join")
    assert(!p.contains("CartesianProduct"))
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("vec_id") && read.contains("embedding"))
    // scoring is the reference-object kernel, not per-query literal LUT
    // arrays (plan size must be independent of |queries|)
    assert(p.contains("pq_adc"), "ADC must go through the PqAdcExpr kernel")
  }

  test("ann_ivfpq: cell filter prunes the codes scan; still join-free") {
    // the IVF half of IVF-PQ: the coarse-cell IN-filter must sit ON the
    // one scan-projection that computes (cl, codes), so only probed
    // cells' rows ever reach the explode — and the PQ half stays
    // join-free (kernel scoring, no embedding join-back)
    val p = plan("ann_ivfpq")
    assert(!p.contains("Join"), "IVF-PQ scoring must not join")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("pq_codes") && p.contains("pq_adc"),
      "encode + ADC kernels must both be on the scan")
    assert(p.contains("cl#") && (p.contains("INSET") || p.contains(" IN ")),
      "coarse-cell IN-filter missing from the plan")
  }

  test("ann_sq8: the 1-dim-subspace PQ reuse keeps the join-free kernels") {
    // scalar quantization = pqTopK with m=dim, ksub=256: same contract —
    // scoring must stay one scan over the code projection, through the
    // two reference-object kernels, with no embedding join-back
    val p = plan("ann_sq8")
    assert(!p.contains("Join"), "SQ8 ADC scoring must not join")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("pq_codes") && p.contains("pq_adc"),
      "encode + ADC must ride the PQ kernels")
  }

  test("ann_hamming: join-free — one scan packs sign bits, literal query codes score") {
    // binary quantization's scale story: scoring reads two longs per
    // vector against per-query LITERAL codes — the plan must be scan →
    // bit-pack projection → posexplode → windows, with no join and no
    // embedding column past the pack projection
    val p = plan("ann_hamming")
    assert(!p.contains("Join"), "Hamming scoring must not join")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("bit_count"), "distance must be the popcount expression")
  }

  test("ann_hamming_rerank: candidate set broadcasts back onto one corpus scan") {
    // the rerank contract: stage 2 must touch float embeddings for the
    // |q|·nCand candidate rows only — the candidate and query-embedding
    // joins BROADCAST their small sides against the one corpus scan; a
    // shuffled join here would exchange the corpus for a 160-row probe
    val p = plan("ann_hamming_rerank")
    assert(p.contains("BroadcastHashJoin"),
      "candidate join-back must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "no corpus-sized join side may shuffle")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("bit_count"),
      "stage 1 must be the popcount candidate generator")
  }

  test("ann_recall_audit: both legs keep their shapes; the intersection join broadcasts") {
    // the audit composes two already-pinned legs; the only NEW join is
    // the |q|·k-row intersection, which must broadcast — a shuffled
    // join here would exchange the legs' outputs for no reason
    val p = plan("ann_recall_audit")
    assert(p.contains("BroadcastHashJoin"),
      "leg intersection must broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("pq_adc"), "the PQ leg must ride the ADC kernel")
  }

  test("mmr_rerank: candidate join broadcasts; the greedy kernel sits post-aggregation") {
    // the only corpus-scale work is bm25's (pinned elsewhere) and one
    // embeddings scan joined against the BROADCAST |q|·nCand candidate
    // set; the greedy loop must ride the mmr_select kernel once per
    // query, never per corpus row
    val p = plan("mmr_rerank")
    assert(p.contains("BroadcastHashJoin"),
      "candidate-embedding join must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "no corpus-sized join side may shuffle")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("mmr_select"), "selection must ride the MMR kernel")
  }

  test("hybrid_retrieve: fusion adds no corpus-sized shuffle beyond the legs") {
    // both legs are pinned elsewhere (bm25_topk broadcast prune,
    // ann_cosine's broadcast query join); the fusion layer itself works
    // on ≤ 2·nLeg rows per query and must not introduce a cartesian or
    // a shuffled corpus join
    val p = plan("hybrid_retrieve")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "no corpus-sized join side may shuffle")
    assert(p.contains("BroadcastHashJoin"),
      "legs' broadcast contracts must survive the composition")
    // single-scan contract, narrowed (VERDICT r14 #4 → r15 #4): the
    // corpus-sized pass feeds from the ONE materialized (doc_id, dl,
    // query-term occurrences) checkpoint; any documents.parquet scan
    // left in the plan must be a query-derivation scan pruned to
    // ≤maxQueryId rows by parquet pushdown (LessThan(doc_id,8)) — an
    // UNpruned documents scan would mean a corpus pass leaked back in
    val docScanBlocks = p.split("\\) Scan parquet").toSeq.drop(1)
      .filter(_.contains("documents.parquet"))
    assert(docScanBlocks.forall(_.contains("LessThan(doc_id,8)")),
      "every surviving documents scan must be pushdown-pruned to the query rows")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      "the checkpointed token projection must feed the legs")
  }

  test("bm25_topk: query terms broadcast; no cartesian; combinable aggs") {
    // the 100 TB contract: the token stream is pruned scan-side by a
    // BROADCAST of the (tiny) query-term set — a shuffled join here
    // would exchange every token occurrence in the corpus; the df and
    // query-assignment joins broadcast for the same reason
    val p = plan("bm25_topk")
    assert(p.contains("BroadcastHashJoin"),
      "query-term prune must be a broadcast hash join")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "no corpus-sized join side may shuffle")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("HashAggregate"), "tf/score aggs must partial-combine")
  }

  test("rag_retrieve: windows explode narrowly; retrieval joins broadcast") {
    // the chunk half must stay a narrow per-row explode (no shuffle to
    // build passages) and the BM25 half inherits bm25_topk's contract:
    // broadcast-pruned token stream, no corpus-sized shuffle join
    val p = plan("rag_retrieve")
    assert(p.contains("Generate"),
      "sliding windows must be a narrow explode on the scan")
    assert(p.contains("BroadcastHashJoin"),
      "query-term prune must be a broadcast hash join")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "no corpus-sized join side may shuffle")
    assert(!p.contains("CartesianProduct"))
  }

  test("pqTopK: plan size independent of query count (1024 queries compile)") {
    // the PqAdcExpr contract: 1024 queries × 8 subspaces × 16 centroids
    // of LUT ride in ONE reference object — the per-query-literal
    // formulation this replaced would emit 128k literals and blow
    // Janino's method limit (the measured 110 s interpreted fallback)
    import spark.implicits._
    val rows = (0 until 1100).map { id =>
      (id.toLong, Array.tabulate(64)(d =>
        (((id * 37 + d * 101) % 997) / 997.0f)).toSeq)
    }
    val c = rows.toDF("vec_id", "embedding")
    val out = operators.Similarity.pqTopK(
      c, c.filter(col("vec_id") < 1024), k = 2)
    val p = out.queryExecution.explainString(FormattedMode)
    assert(p.contains("pq_adc") && !p.contains("Join"))
    assert(out.count() == 1024 * 2)
  }

  test("ivfTopK: plan size independent of nlist (1024 cells compile)") {
    // the CoarseCellExpr contract (VERDICT r14 #3): a 1024×64 codebook
    // rides in ONE reference object — the nlist-cosine HOF array this
    // replaced would emit 1024 interpreted aggregate subtrees (the
    // PqCodesExpr 110 s lesson, on the cell-assignment side)
    import spark.implicits._
    val rows = (0 until 400).map { id =>
      (id.toLong, Array.tabulate(64)(d =>
        (((id * 41 + d * 89) % 991) / 991.0f)).toSeq)
    }
    // via parquet — a LocalRelation corpus would let
    // ConvertToLocalRelation fold the assignment projection away and
    // the pin would assert against an empty plan
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_pin").toString
    rows.toDF("vec_id", "embedding").write.mode("overwrite").parquet(dir)
    val c = spark.read.parquet(dir)
    val cb: Array[Array[Float]] = Array.tabulate(1024, 64) { (i, d) =>
      (((i * 53 + d * 71) % 1009) / 1009.0f)
    }
    val out = operators.Similarity.ivfTopK(
      c, c.filter(col("vec_id") < 4), k = 2,
      nlist = 1024, nprobe = 64, codebook = Some(cb))
    val p = out.queryExecution.explainString(FormattedMode)
    assert(p.contains("coarse_cell") && p.contains("coarse_sims"),
      "cell assignment and probe sims must ride the kernels")
    assert(out.count() > 0)
  }

  test("dedup_snapshot: bloom predicate is scan-side; only hits reach the anti-join") {
    // the bloom branch must be a plain codegen'd predicate (no join, no
    // exchange) — that is the whole point: definite-new rows pass with
    // zero exchange; only the possibly-seen sliver anti-joins
    val p = plan("dedup_snapshot")
    assert(p.contains("might_contain"),
      "bloom membership must be the scan-side might_contain predicate")
    assert(p.contains("LeftAnti"), "exact verification anti-join missing")
    // the verify join's SNAPSHOT side must be pruned by the second
    // (sliver) bloom BEFORE its exchange — one might_contain for the
    // input-side hit/miss split, one on the snapshot scan; without the
    // second, every snapshot fingerprint shuffles to meet a sliver
    // typically orders of magnitude smaller
    val mc = "might_contain".r.findAllIn(p).size
    assert(mc >= 2,
      s"expected input-side AND snapshot-side might_contain, saw $mc")
    assert(!p.contains("CartesianProduct"))
  }

  test("dedup_snapshot_fuzzy: texts verify through the fused kernel; verdict maps back anti-join") {
    val p = plan("dedup_snapshot_fuzzy")
    assert(p.contains("jaccard_texts"),
      "verify must use the fused two-text kernel, not array-carrying joins")
    assert(p.contains("LeftAnti"), "contaminated-rep map-back must be anti-join")
    assert(!p.contains("CartesianProduct"))
  }

  test("sample_shuffle: position window partitions by shard — never a global row_number") {
    val p = plan("sample_shuffle")
    assert(p.contains("Window"), "row_number window missing")
    assert(!p.contains("SinglePartition"),
      "global (one-partition) window — the scale killer this operator exists to avoid")
  }

  test("bpe_fertility: scan-bound projection + one combinable groupBy, no join") {
    // the fertility audit must stay the corpus_stats shape: per-word
    // trie counts ride the scan projection, then ONE map-side-combinable
    // groupBy with ≤ #sources output rows
    val p = plan("bpe_fertility")
    assert(!p.contains("Join"), "fertility table is a single groupBy")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("HashAggregate"), "per-source agg must partial-combine")
  }

  test("dedup_report: one fp-window shuffle without the text, then a combinable groupBy") {
    // the keeper window may only carry (fp, id, source, n_tok) — the
    // text column must be projected away BEFORE the exchange — and the
    // window partitions by fingerprint, never a single partition
    val p = plan("dedup_report")
    assert(!p.contains("Join"), "report needs no join (window + groupBy)")
    assert(!p.contains("SinglePartition"),
      "global (one-partition) window — must partition by fingerprint")
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).mkString
    assert(!exchangeLines.contains("text"),
      "document text must not ride the fingerprint exchange")
  }

  test("sample_dsir: scan-side weight kernel, join-free; per-shard rank window") {
    // DSIR's r15 scale contract: the ≤`buckets`-row weight table is a
    // reference object applied SCAN-side (bucket_weight_sum) — no join
    // of any kind remains (pre-r15 this pinned a BroadcastHashJoin;
    // feature hashing bounds the table for ANY vocabulary, which is
    // what makes the collect as safe as the broadcast was) — and the
    // Gumbel-top-k rank partitions by shard (the sample_shuffle
    // discipline: a one-partition window is the classic scale killer)
    val p = plan("sample_dsir")
    assert(p.contains("bucket_weight_sum"),
      "per-doc weight must be the scan-side kernel")
    assert(!p.contains("Join"), "dsir must be join-free")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("Window"), "per-shard rank window missing")
    assert(!p.contains("SinglePartition"),
      "global (one-partition) window — the scale killer the shard split avoids")
  }

  test("corpus_stats: one combinable aggregate, no join, pruned scan") {
    val p = plan("corpus_stats")
    assert(!p.contains("Join"), "stats table is a single groupBy")
    // exact percentile rides the ObjectHashAggregate path and must still
    // partial-aggregate before the exchange (buffer bounded by distinct
    // token counts, not rows)
    assert(p.contains("ObjectHashAggregate"), "percentile aggregate missing")
    assert(!p.contains("CartesianProduct"))
  }

  test("no-cartesian / no-Python sweep over the lazily-built batch suite") {
    // every query that constructs lazily: the physical plan must never
    // contain a cartesian product or a Python eval barrier. Eagerly-
    // executing entries (streams, reload/external side effects) are
    // excluded — their kernels are covered by their own specs.
    val eager = Set("lookup_reload", "stream_lookup_reload", "mmexternal_pipe",
      "dead_letter", "multimodal_features", "multimodal_frames")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("stream_")).filterNot(eager)
    val offenders = names.flatMap { n =>
      try {
        val p = plan(n)
        if (p.contains("CartesianProduct") || p.contains("BatchEvalPython"))
          Some(n -> "cartesian/python")
        else None
      } catch { case e: Throwable => Some(n -> s"plan failed: ${e.getMessage}") }
    }
    assert(offenders.isEmpty, s"plan offenders: $offenders")
  }
}
