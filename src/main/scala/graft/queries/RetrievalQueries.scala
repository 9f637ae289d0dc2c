package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.operators._

/** Retrieval and ANN: exact and quantized vector search, BM25, hybrid
  * fusion, re-ranking and embedding QA (SURVEY §2.11). */
object RetrievalQueries {

  val queries: Seq[Query] = Seq(
    // brute-force cosine top-k ANN baseline
    Query("ann_cosine", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), k = 5)
    },
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
        |           FROM embeddings WHERE vec_id < 8),
        |sims AS (
        |  SELECT q.q_id, c.vec_id AS neighbor,
        |    round(list_cosine_similarity(q.q_emb, c.embedding), 4) AS sim
        |  FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.q_id),
        |ranked AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY q_id ORDER BY sim DESC, neighbor) AS rk
        |  FROM sims)
        |SELECT q_id, rk, neighbor, sim FROM ranked WHERE rk <= 5""".stripMargin,
      Scale.Sf10(Rank.Flagship)),

    // LSH-bucketed ANN (scale path; recall<1 by design → rows-only check)
    Query("ann_lsh", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 8), k = 5)
    },
      // multi-probe LSH fully oracled: the deterministic plane matrix embeds
      // as SQL literals (see Similarity.lshOracleSql)
      Similarity.lshOracleSql(nPlanes = 8, dim = 64, k = 5),
      Scale.Sf10(Rank.Flagship)),

    // product-quantization ANN (PQ-ADC): 4-byte codes replace 256-byte
    // float vectors on the scan; per-query integer lookup tables score
    // codes only — the memory-bound billion-vector layout (compose with
    // ivf cells for IVF-PQ). Deterministic first-ksub codebooks +
    // integer micro-L2² make the whole pipeline oracle-exact
    Query("ann_pq", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 8), k = 5)
    },
      Similarity.pqOracleSql(k = 5, m = 8, ksub = 16, dim = 64),
      Scale.Sf100(Rank.Cheap, 90)),

    // IVF-PQ composition (the production layout): coarse cell filter
    // prunes the codes scan to the probed cells, ADC scores codes only,
    // and each probed cell contributes at most maxPerCell candidates
    // (deterministic truncation — rank by (dist, id) — so the oracle
    // replays it exactly)
    Query("ann_ivfpq", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 8), k = 5,
        nlist = 16, nprobe = 4, maxPerCell = 8)
    },
      Similarity.ivfPqOracleSql(k = 5, nlist = 16, nprobe = 4,
        m = 8, ksub = 16, dim = 64, maxPerCell = 8),
      Scale.Sf10(Rank.Cheap)),

    // scalar-quantized ANN (SQ8): per-dim byte codes over uniform
    // min/max levels — scalar quantization IS product quantization with
    // 1-dim subspaces, so this is pqTopK with m=dim, ksub=256 and the
    // level-ladder codebook; both PQ kernels and the join-free plan
    // reused unchanged
    Query("ann_sq8", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.sq8TopK(emb, emb.filter(col("vec_id") < 8), k = 5)
    },
      Similarity.sq8OracleSql(k = 5, dim = 64, nlevels = 256),
      Scale.Sf10(Rank.Cheap)),

    // binary-quantization ANN: sign-bit codes (two 32-bit words/vector),
    // Hamming popcount distance — the cheapest quantization rung. Zero
    // arithmetic in the code path (a float sign test), so ranks are
    // oracle-exact by construction
    Query("ann_hamming", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.hammingTopK(emb, emb.filter(col("vec_id") < 8), k = 5)
    },
      Similarity.hammingOracleSql(k = 5, dim = 64),
      Scale.Sf10(Rank.Cheap)),

    // two-stage quantized retrieval: binary sign codes nominate nCand
    // candidates per query (8 B/vector scan), exact cosine re-scores
    // only the |q|·nCand candidate rows — the production rerank
    // composition that recovers the recall binary codes trade away
    // while keeping the corpus scan byte-bound
    Query("ann_hamming_rerank", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.hammingRerankTopK(emb, emb.filter(col("vec_id") < 8),
        k = 5, nCand = 20)
    },
      Similarity.hammingRerankOracleSql(k = 5, nCand = 20, dim = 64),
      Scale.Sf10(Rank.Cheap)),

    // recall@k audit of the PQ index vs the exact ranking — the metric
    // a platform measures before committing a corpus to an index
    // layout; both legs are the existing oracled operators, so the
    // metric itself is oracle-replayable
    Query("ann_recall_audit", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.annRecallAudit(emb, emb.filter(col("vec_id") < 8), k = 10)
    },
      Similarity.recallAuditOracleSql(k = 10),
      Scale.Sf10(Rank.Composite)),

    // embedding-cosine near-dup pairs within label blocks (banded sign-bit
    // LSH candidates → capped buckets → exact-cosine verify)
    Query("emb_neardup", (s, dir) => {
      Similarity.embeddingNearDupPairs(Tables.embeddings(s, dir), "label",
        threshold = 0.3, sampleMod = 1)
    },
      // banded-LSH pipeline fully oracled: deterministic planes embed as
      // literals, maxBucket guard mirrored (see Similarity.embNearDupOracleSql)
      Similarity.embNearDupOracleSql(threshold = 0.3),
      Scale.Sf10(Rank.Heavy)),

    // per-doc top-k terms by tf-idf (keyword extraction)
    Query("tfidf_topk", (s, dir) => {
      TextAnalysis.tfidfTopK(Tables.documents(s, dir), "doc_id", "text")
    },
      TextAnalysis.tfidfOracleSql(),
      Scale.Sf10(Rank.Stable)),

    // BM25 ranked retrieval: top-k docs per keyword query (queries =
    // first-3-distinct-token keyword sets of docs 0-7). Query terms
    // broadcast and prune the token stream scan-side; per-term integer
    // micro-scores sum order-free per (query, doc)
    Query("bm25_topk", (s, dir) => {
      // r16: single-pass form — the direct bm25TopK tokenizes the
      // corpus twice (eager stats collect + matched scan); the narrowed
      // (doc_id, dl, query-term occurrences) checkpoint tokenizes once.
      // Scoring inputs value-identical (oracle unchanged).
      val docs = Tables.documents(s, dir)
      TextAnalysis.bm25TopKSingleScan(docs, "doc_id", "text",
        TextAnalysis.keywordQueries(docs, "doc_id", "text"))
    },
      TextAnalysis.bm25OracleSql(),
      Scale.Sf100(Rank.Composite, 120)),

    // RAG passage retrieval — the composition a retrieval pipeline
    // actually runs: chunk_tokens' sliding windows become the retrieval
    // units and BM25 ranks passages per query. Passage identity rides
    // as doc_id·1e6 + chunk_idx through the generic scorer (bounded:
    // chunk_idx < 1e6 ⇔ docs under ~48M whitespace tokens) and splits
    // back in the result
    // hybrid retrieval: reciprocal-rank fusion of the BM25 lexical leg
    // and the cosine-ANN semantic leg (vec_id = doc_id contract) —
    // exact integer 1e9 div (60 + rank) contributions, so fused ranks
    // replay bit-for-bit given two oracle-exact legs
    Query("hybrid_retrieve", (s, dir) => {
      TextAnalysis.hybridRetrieve(Tables.documents(s, dir),
        Tables.embeddings(s, dir), k = 5, nLeg = 10)
    },
      TextAnalysis.hybridRetrieveOracleSql(k = 5, nLeg = 10),
      Scale.Sf10(Rank.Composite)),

    // the production hybrid composition: same RRF fusion, but the
    // semantic leg is the PQ-ADC index (codes-only scan) instead of
    // brute-force floats — RRF consumes ranks only, so the leg swap
    // needs no score calibration; oracled via the SAME pqRankedCtes
    // replay the standalone ann_pq gate checks
    Query("hybrid_retrieve_pq", (s, dir) => {
      TextAnalysis.hybridRetrieve(Tables.documents(s, dir),
        Tables.embeddings(s, dir), k = 5, nLeg = 10,
        semLeg = (c, q, n) => Similarity.pqTopK(c, q, n))
    },
      TextAnalysis.hybridRetrievePqOracleSql(k = 5, nLeg = 10),
      Scale.Sf10(Rank.Composite)),

    // MMR diversity re-rank: greedy maximal-marginal-relevance
    // selection over each query's BM25 candidates — integer RRF-unit
    // relevance minus penaltyWeight x micro-cosine to the already-
    // selected set; the greedy loop runs once per query in a bounded
    // kernel and the oracle replays it with a recursive CTE
    Query("mmr_rerank", (s, dir) => {
      TextAnalysis.mmrRerank(Tables.documents(s, dir),
        Tables.embeddings(s, dir), k = 5, nCand = 12)
    },
      TextAnalysis.mmrOracleSql(k = 5, nCand = 12),
      Scale.Sf10(Rank.Composite)),

    Query("rag_retrieve", (s, dir) => {
      val docs = Tables.documents(s, dir)
      // single-scan composition (r15, the hybrid_retrieve cure applied
      // here too): bm25TopK's corpus-stats agg and its matched-token
      // scan each rebuilt + re-tokenized EVERY chunk window — the
      // chunk explode is the most expensive projection in the engine,
      // and it ran twice. Materialize the (pid, t, dl) chunk token
      // projection once (localCheckpoint, the dsirResample lesson) and
      // feed bm25TopKFromToks — scoring arithmetic identical, oracle
      // unchanged.
      // r16 narrowing (VERDICT r15 #4, guide §2.3): the checkpoint held
      // every token of every chunk window (~corpus bytes). The scorer
      // needs only (pid, dl, query-term occurrences); the query-term
      // set is ≤ 8·3 terms BY CONSTRUCTION — collect it once (bounded
      // broadcast-equivalent) and filter the token arrays scan-side.
      // dl stays the UNfiltered size; tf/df/nd values are unchanged.
      val qs = TextAnalysis.keywordQueries(docs, "doc_id", "text")
      val qTerms = qs.select(explode(col("qt")).as("term")).distinct()
        .collect().map(_.getString(0)).toSeq
      val keep: Column => Column =
        if (qTerms.isEmpty) _ => lit(false) else t => t.isin(qTerms: _*)
      // r16 second pass: the scorer never sees chunk_text — only its
      // lowered tokens and their count — so each chunk's token array is
      // a SLICE of the doc's token array. The old composition built
      // ~1.33x corpus bytes of chunk text (array_join over the
      // case-preserving token slices) only to lower + re-split it per
      // chunk. Window arithmetic replicated from chunkByTokens
      // verbatim; boundary/lowercasing commutation (incl. final-sigma
      // context) pinned by ChunkTokenSliceParitySpec; oracle unchanged.
      val stride = 48 // chunkTokens 64 − overlapTokens 16
      val ctoks = docs
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__toks"))
        .withColumn("__n", size(col("__toks")).cast("long"))
        .filter(col("__n") > 0)
        .withColumn("chunk_idx", explode(sequence(lit(0L),
          greatest(lit(1L),
            expr(s"(__n - 16 + ${stride - 1}) div $stride")) - 1)))
        .select((col("doc_id") * lit(1000000L) + col("chunk_idx")).as("doc_id"),
          slice(col("__toks"), (col("chunk_idx") * stride + 1).cast("int"),
            lit(64)).as("t0"))
        .select(col("doc_id"), filter(col("t0"), keep).as("t"),
          size(col("t0")).cast("long").as("dl"))
        .localCheckpoint()
      TextAnalysis.bm25TopKFromToks(ctoks, qs)
        .select(col("query_id"), col("rk"),
          expr("doc_id div 1000000").as("doc_id"),
          (col("doc_id") % lit(1000000L)).as("chunk_idx"),
          col("mscore"))
    },
      TextAnalysis.ragRetrieveOracleSql(),
      Scale.Sf10(Rank.Composite)),

    // IVF-Flat ANN: coarse-quantized cells + nprobe probing (the scale
    // path next to ann_lsh; fully oracle-checked — the quantizer is
    // deterministic)
    Query("ann_ivf", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 8), k = 5,
        nlist = 16, nprobe = 4)
    },
      """WITH cb AS (
        |  SELECT list(embedding ORDER BY vec_id) AS ce
        |  FROM embeddings WHERE vec_id < 16),
        |simd AS (
        |  SELECT e.vec_id, e.embedding,
        |    list_transform(cb.ce, x -> list_cosine_similarity(e.embedding, x))
        |      AS sims
        |  FROM embeddings e, cb),
        |assigned AS (
        |  SELECT vec_id, embedding,
        |    list_position(sims, list_max(sims)) - 1 AS cl
        |  FROM simd),
        |qp AS (
        |  SELECT vec_id AS q_id, embedding AS q_emb,
        |    unnest(list_transform(list_sort(list_transform(range(16),
        |        i -> {'ns': -sims[i + 1], 'i': i})),
        |      x -> x.i)[1:4]) AS probe
        |  FROM simd WHERE vec_id < 8),
        |cands AS (
        |  SELECT qp.q_id, a.vec_id AS neighbor,
        |    round(list_cosine_similarity(qp.q_emb, a.embedding), 4) AS sim
        |  FROM assigned a JOIN qp ON a.cl = qp.probe AND a.vec_id <> qp.q_id),
        |ranked AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY q_id ORDER BY sim DESC, neighbor) AS rk
        |  FROM cands)
        |SELECT q_id, rk, neighbor, sim FROM ranked WHERE rk <= 5""".stripMargin,
      Scale.Sf10(Rank.Flagship)),

    // embedding QA stats (the corpus-health face of the ANN family):
    // per-label counts + L2-norm distribution — the standard sanity pass
    // before indexing/training. Per-row norm is a sequential fold (same
    // IEEE order both engines); scan-bound + one partial-agg'd groupBy
    Query("emb_stats", (s, dir) => {
      val norm = sqrt(aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double")))
      Tables.embeddings(s, dir)
        .select(col("label"), norm.as("norm"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("norm")), 4).as("avg_norm"),
          round(min(col("norm")), 4).as("min_norm"),
          round(max(col("norm")), 4).as("max_norm"))
    },
      """WITH n AS (
        |  SELECT label,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        |  FROM embeddings)
        |SELECT label, count(*) AS n,
        |  round(avg(norm), 4) AS avg_norm,
        |  round(min(norm), 4) AS min_norm,
        |  round(max(norm), 4) AS max_norm
        |FROM n GROUP BY 1""".stripMargin,
      Scale.Sf10(Rank.Flagship))
  )
}
