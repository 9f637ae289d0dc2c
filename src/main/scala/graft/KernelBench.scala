package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool (guide §1: measure first, interleaved A/B): time an
  * optimized formulation against the declarative/naive one it replaced
  * INSIDE ONE JVM, strictly alternating trials so host-contention
  * drift hits both sides equally — the sandbox hosts swing 2-4× within
  * minutes, which poisons cross-process A/B medians (r15 measured a
  * 3.2× host_factor shift between two back-to-back bench runs). noop
  * sink, per-trial seconds + medians + the median of PAIRWISE ratios
  * (the drift-robust statistic).
  * Usage: sbt "runMain graft.KernelBench [reps] [pair ...]"
  * Pairs: windows, windows_long, rag
  */
object KernelBench {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(5)
    val which = if (args.length > 1) args.drop(1).toSet
                else Set("windows", "windows_long", "rag", "dsir", "impcap",
                  "hybrid")
    val spark = GraftSession(appName = "graft-kernelbench")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .localCheckpoint() // time the formulations, not the parquet read
    // realistic-length documents (sf corpora average ~300 chars; web
    // documents are KBs): same corpus, text ×8
    val longDocs = docs.select(col("doc_id"),
        concat_ws(" ", array_repeat(col("text"), 8)).as("text"))
      .localCheckpoint()
    val w = 120

    def declWindows(src: DataFrame) = src.select(col("doc_id").as("doc"),
        explode(expr(
          s"CASE WHEN length(text) < $w THEN array() " +
          s"ELSE transform(sequence(1, length(text) - ${w - 1}), " +
          s"i -> substring(text, i, $w)) END")).as("w"))
      .filter(substring(md5(col("w")), 32, 1) === "0")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))

    def kernWindows(src: DataFrame) = src.select(col("doc_id").as("doc"),
        explode(org.apache.spark.sql.GraftBridge.column(
          graft.functions.SelectWindowsExpr(
            org.apache.spark.sql.GraftBridge.expression(col("text")), w))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))

    // rag_retrieve compositions: double-pass (pre-r15: bm25TopK rebuilds
    // the chunk projection for the stats agg AND the matched scan) vs
    // the single-scan checkpointed chunk token projection
    def chunks = operators.Sampling.chunkByTokens(docs, "doc_id", "text",
        chunkTokens = 64, overlapTokens = 16)
      .select((col("doc_id") * lit(1000000L) + col("chunk_idx")).as("pid"),
        col("chunk_text"))
    def ragOld = operators.TextAnalysis.bm25TopK(chunks, "pid", "chunk_text",
      operators.TextAnalysis.keywordQueries(docs, "doc_id", "text"))
    def ragNew = {
      val ctoks = chunks
        .select(col("pid").as("doc_id"),
          operators.TextAnalysis.tokens(col("chunk_text")).as("t"))
        .select(col("doc_id"), col("t"), size(col("t")).cast("long").as("dl"))
        .localCheckpoint()
      operators.TextAnalysis.bm25TopKFromToks(ctoks,
        operators.TextAnalysis.keywordQueries(docs, "doc_id", "text"))
    }

    // sample_dsir: the pre-r15 form (exploded occurrence checkpoint,
    // broadcast-join weight probe, corpus-sized groupBy(doc_id)) vs the
    // r15 form (bucket-array checkpoint, scan-side weight kernel) —
    // both end-to-end through the per-shard Gumbel-top-k window
    def dsirOld = {
      import org.apache.spark.sql.expressions.Window
      val (buckets, nShards, targetFrac, salt) = (4096, 16, 0.25, "dsir")
      val staged = docs.select(col("doc_id"),
        operators.TextAnalysis.tokens(col("text")).as("toks"),
        (length(col("text")) % 2 === 0).as("is_target"))
      val bucketArr = transform(
        concat(col("toks"), operators.TextAnalysis.wordNgrams(col("toks"), 2)),
        g => pmod(operators.QualityClassifier.fnv64(g), lit(buckets.toLong)))
      val occ = staged.select(col("doc_id"), col("is_target"),
        explode(bucketArr).as("b")).localCheckpoint()
      val t = occ.agg(sum(when(col("is_target"), 1L).otherwise(0L)),
        count(lit(1))).head()
      val (totT, totS) = (t.getLong(0), t.getLong(1))
      val w = occ.groupBy(col("b"))
        .agg(sum(when(col("is_target"), 1L).otherwise(0L)).as("n_t"),
          count(lit(1)).as("n_s"))
        .select(col("b"),
          floor(log(((col("n_t") + 1).cast("double") *
              lit((totS + buckets).toDouble)) /
            ((col("n_s") + 1).cast("double") * lit((totT + buckets).toDouble)))
            * 1e6).cast("long").as("w"))
      val perDoc = occ.join(broadcast(w), Seq("b"))
        .groupBy(col("doc_id")).agg(sum(col("w")).as("w_micro"))
      val u = (conv(substring(md5(concat(lit(salt + "g:"),
          col("doc_id").cast("string"))), 1, 8), 16, 10).cast("double")
        + lit(0.5)) / lit(4294967296.0)
      val shard = (conv(substring(md5(concat(lit(salt + "shard:"),
          col("doc_id").cast("string"))), 1, 2), 16, 10).cast("long")
        % nShards).cast("int")
      val keyed = perDoc.withColumn("shard", shard)
        .withColumn("key_micro",
          col("w_micro") + floor(-log(-log(u)) * 1e6).cast("long"))
      val win = Window.partitionBy(col("shard"))
        .orderBy(col("key_micro").desc, col("doc_id"))
      val cntWin = Window.partitionBy(col("shard"))
      keyed.withColumn("__rk", row_number().over(win))
        .withColumn("__n", count(lit(1)).over(cntWin))
        .select(col("doc_id"), col("shard"), col("w_micro"), col("key_micro"),
          (col("__rk") <= floor(col("__n").cast("double") * lit(targetFrac))
            .cast("long")).as("kept"))
    }
    def dsirNew = operators.Sampling.dsirResample(docs, "doc_id", "text",
      targetPred = length(col("text")) % 2 === 0)

    // impcap_applayer extraction: 17 independent get_json_object calls
    // (each re-parses the FULL vars_msg incl. the hex payload) vs ONE
    // $.impcap sub-extract + ONE json_tuple (13 flat fields) + 4 small
    // nested extracts — same decode feed as the declared query
    def impcapDec = {
      val ev = Tables.events(spark, dir)
      val m4 = col("event_id") % 4
      def h2(c: org.apache.spark.sql.Column) = lpad(hex(c), 2, "0")
      def h4(c: org.apache.spark.sql.Column) = lpad(hex(c), 4, "0")
      def h8(c: org.apache.spark.sql.Column) = lpad(hex(c), 8, "0")
      def le32(c: org.apache.spark.sql.Column) = concat(h2(c), lit("000000"))
      val eth = concat(lit("001A2B3C4D5EAABBCCDDEE"),
        h2(col("user_id") % 256), lit("0800"))
      val proto = when(m4 === 0, "11").otherwise("06")
      val ip = concat(lit("4500000000000000"), lit("40"), proto, lit("0000"),
        lit("0A00"), h2((col("event_id") / 256).cast("long") % 256),
        h2(col("event_id") % 256), lit("C0A80101"))
      val tcpHdr = (dst: String) => concat(
        h4(lit(40000) + col("event_id") % 10000), lit(dst),
        h8(col("event_id") % 100000), lit("00000000"), lit("5018"),
        lit("000000000000"))
      val dnsPay = concat(h4(col("event_id") % 65536), lit("0100"),
        lit("0001000000000000"),
        lit("03777777076578616D706C6503636F6D00"),
        when(col("event_id") % 8 === 0, "0001").otherwise("001C"), lit("0001"))
      val httpPay = hex(concat(lit("GET /p"), col("event_id") % 100,
        lit(" HTTP/1.1\r\nHost: h"), col("event_id") % 10,
        lit(".example\r\nXKey: v"), col("event_id") % 7, lit("\r\n\r\nbody")))
      val ftpPay = hex(when(col("event_id") % 8 === 2,
          concat(lit("USER u"), col("event_id") % 5, lit("\r\n")))
        .otherwise(lit("230 Login ok\r\n")))
      val smbPay = concat(lit("FE534D42"), lit("4000"), lit("0000"),
        le32(col("event_id") % 256), h2(col("event_id") % 19), lit("00"),
        lit("0000"), lit("01000000"), lit("00000000"),
        le32(col("event_id") % 256), lit("00000000"),
        le32(col("event_id") % 200), le32(col("event_id") % 50),
        le32(col("event_id") % 100), lit("00000000"),
        lit("0000000000000000000000000000000000000000000000000000000000000000"))
      val l4 =
        when(m4 === 0, concat(h4(lit(2048) + col("event_id") % 1000),
          lit("0035"), lit("0010"), lit("BEEF"), dnsPay))
        .when(m4 === 1, concat(tcpHdr("0050"), httpPay))
        .when(m4 === 2, concat(tcpHdr("0015"), ftpPay))
        .otherwise(concat(tcpHdr("01BD"), smbPay))
      val feed = ev.select(col("event_id"), col("event_id").as("id"),
        unhex(concat(eth, ip, l4)).as("packet"),
        to_timestamp(lit("2024-06-01 10:00:00")).as("ts"))
      sources.Sources.impcapDecode(feed, tag = "pcap:")
        .select(col("event_id"), col("vars_msg")).localCheckpoint()
    }
    lazy val impcapDecDf = impcapDec
    val impFlat = Seq("DNS_transaction_id", "DNS_error", "HTTP_method",
      "HTTP_request_URI", "FTP_request", "FTP_response", "SMB_version",
      "SMB_NTstatus", "SMB_operation", "SMB_flags", "SMB_seqNumber",
      "SMB_treeID", "SMB_userID")
    val impNested = Seq("DNS_Names[0].qname", "DNS_Names[0].type",
      "HTTP_header_fields.Host", "HTTP_header_fields.XKey")
    def impcapOld = impcapDecDf.select(col("event_id") +:
      (impFlat ++ impNested).map(p =>
        get_json_object(col("vars_msg"), "$.impcap." + p).as(p.take(8))): _*)
    def impcapNew = impcapDecDf
      .withColumn("__imp", get_json_object(col("vars_msg"), "$.impcap"))
      .select(Seq(col("event_id"), col("__imp")) :+
        json_tuple(col("__imp"), impFlat: _*): _*)
      .toDF(("event_id" +: "__imp" +: impFlat.map("f" + _)): _*)
      .select(col("event_id") +: (impFlat.map(f => col("f" + f)) ++
        impNested.map(p => get_json_object(col("__imp"), "$." + p))): _*)

    // hybrid_retrieve compositions: the r15 full-token checkpoint
    // (every token of every document materialized) vs the r16 narrowed
    // checkpoint (doc_id, dl, query-term occurrences only — VERDICT
    // r15 #4) — both end-to-end through the RRF fusion
    def hybridOld = {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(spark, dir)
      val (k, nLeg, k0, maxQueryId, nTerms) = (5, 10, 60, 8L, 3)
      val toks = docs
        .select(col("doc_id"),
          operators.TextAnalysis.tokens(col("text")).as("t"))
        .select(col("doc_id"), col("t"),
          size(col("t")).cast("long").as("dl"))
        .localCheckpoint()
      val qs = toks.filter(col("doc_id") < maxQueryId)
        .select(col("doc_id").as("query_id"),
          array_distinct(slice(col("t"), 1, nTerms)).as("qt"))
      val lex = operators.TextAnalysis.bm25TopKFromToks(toks, qs, k = nLeg)
        .select(col("query_id"), col("doc_id"), col("rk"))
      val sem = operators.Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") < maxQueryId), nLeg)
        .select(col("q_id").as("query_id"), col("neighbor").as("doc_id"),
          col("rk"))
      val fused = lex.unionByName(sem)
        .groupBy(col("query_id"), col("doc_id"))
        .agg(sum(expr(s"CAST(1000000000 AS BIGINT) div ($k0 + rk)"))
            .as("rrf_micro"),
          count(lit(1)).as("n_legs"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("rrf_micro").desc, col("doc_id"))
      fused.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
        .select(col("query_id"), col("rk"), col("doc_id"),
          col("rrf_micro"), col("n_legs"))
    }
    def hybridNew = operators.TextAnalysis.hybridRetrieve(docs,
      Tables.embeddings(spark, dir), k = 5, nLeg = 10)

    // rag chunk-token forms (r16 second pass): both sides use the
    // narrowed query-term checkpoint; old rebuilds chunk TEXT
    // (array_join over case-preserving token slices) and lowers +
    // re-splits it per chunk, new slices the doc's lowered token array
    // directly (ChunkTokenSliceParitySpec pins value identity)
    def ragChunksVia(slice64: Boolean) = {
      val qs = operators.TextAnalysis.keywordQueries(docs, "doc_id", "text")
      val qTerms = qs.select(explode(col("qt")).as("term")).distinct()
        .collect().map(_.getString(0)).toSeq
      val keep: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        if (qTerms.isEmpty) _ => lit(false) else t => t.isin(qTerms: _*)
      val stride = 48
      val base =
        if (slice64)
          docs.select(col("doc_id"),
              operators.TextAnalysis.tokens(col("text")).as("__toks"))
            .withColumn("__n", size(col("__toks")).cast("long"))
            .filter(col("__n") > 0)
            .withColumn("chunk_idx", explode(sequence(lit(0L),
              greatest(lit(1L),
                expr(s"(__n - 16 + ${stride - 1}) div $stride")) - 1)))
            .select(
              (col("doc_id") * lit(1000000L) + col("chunk_idx")).as("doc_id"),
              slice(col("__toks"),
                (col("chunk_idx") * stride + 1).cast("int"), lit(64)).as("t0"))
        else
          operators.Sampling.chunkByTokens(docs, "doc_id", "text",
              chunkTokens = 64, overlapTokens = 16)
            .select(
              (col("doc_id") * lit(1000000L) + col("chunk_idx")).as("doc_id"),
              operators.TextAnalysis.tokens(col("chunk_text")).as("t0"))
      val ctoks = base
        .select(col("doc_id"), filter(col("t0"), keep).as("t"),
          size(col("t0")).cast("long").as("dl"))
        .localCheckpoint()
      operators.TextAnalysis.bm25TopKFromToks(ctoks, qs)
    }

    // bm25_topk forms: direct (tokenizes the corpus twice — the eager
    // stats collect + the matched scan) vs the r16 single-pass narrowed
    // checkpoint
    def bm25Old = operators.TextAnalysis.bm25TopK(docs, "doc_id", "text",
      operators.TextAnalysis.keywordQueries(docs, "doc_id", "text"))
    def bm25New = operators.TextAnalysis.bm25TopKSingleScan(docs,
      "doc_id", "text",
      operators.TextAnalysis.keywordQueries(docs, "doc_id", "text"))

    def time(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def run(name: String, before: => DataFrame, after: => DataFrame): Unit = {
      // per-trial checkpoint hygiene (ADVICE r15): formulations that
      // localCheckpoint inside their body (ragNew, hybrid*) would
      // otherwise accumulate pinned blocks across reps and drift later
      // trials — unpersist everything this run created after each trial,
      // keeping the fixture checkpoints (docs/longDocs/impcap feed)
      val pinned = spark.sparkContext.getPersistentRDDs.keySet
      def sweep(): Unit = spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => pinned(id) }
        .foreach { case (_, rdd) => rdd.unpersist(blocking = false) }
      time(before); sweep(); time(after); sweep() // untimed warm-up
      val (bT, aT) = (Array.ofDim[Double](reps), Array.ofDim[Double](reps))
      for (i <- 0 until reps) {
        spark.sparkContext.setJobDescription(s"$name before #$i")
        bT(i) = time(before); sweep()
        spark.sparkContext.setJobDescription(s"$name after #$i")
        aT(i) = time(after); sweep()
      }
      def med(a: Array[Double]) = a.sorted.apply(a.length / 2)
      val ratios = bT.zip(aT).map { case (b, a) => b / a }
      println(f"""{"kernel_bench":"$name","reps":$reps,""" +
        f""""before_s":[${bT.map(t => f"$t%.3f").mkString(",")}],""" +
        f""""after_s":[${aT.map(t => f"$t%.3f").mkString(",")}],""" +
        f""""before_median_s":${med(bT)}%.3f,""" +
        f""""after_median_s":${med(aT)}%.3f,""" +
        f""""median_pairwise_speedup":${med(ratios)}%.2f}""")
    }
    if (which("windows")) run("select_windows",
      declWindows(docs), kernWindows(docs))
    if (which("windows_long")) run("select_windows_8x_docs",
      declWindows(longDocs), kernWindows(longDocs))
    if (which("rag")) run("rag_single_scan", ragOld, ragNew)
    if (which("dsir")) run("dsir_scan_side_weights", dsirOld, dsirNew)
    if (which("impcap")) run("impcap_single_parse", impcapOld, impcapNew)
    if (which("hybrid")) run("hybrid_narrow_ckpt", hybridOld, hybridNew)
    if (which("bm25")) run("bm25_single_scan", bm25Old, bm25New)
    if (which("rag_slice")) run("rag_token_slice",
      ragChunksVia(slice64 = false), ragChunksVia(slice64 = true))
    spark.stop()
  }
}
