package graft

import graft.QueryLib._
import graft.functions.TextFns
import graft.model._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftFunctions

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2), each with a DuckDB oracle where SQL-expressible.
  * Conventions: BIGINT ints, round(x,n) doubles (same n both engines,
  * applied before any dependent rank/filter), total ORDER BY everywhere.
  */
object SparkEntry {

  /** Flagship: full ER pipeline (detect → block → score → cluster) over
    * sf0.001 transcripts derived from `documents`. */
  def entry(spark: SparkSession): DataFrame =
    queries("q13_er_clusters")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- generic relational operators (scan, agg, join, window) ----

    "q01_lineitem_agg" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double").as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q02_orders_by_segment" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      orders.join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
             sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("total"))
        .orderBy("c_mktsegment")
    }),

    "q03_top_events" -> ((s, dir) => {
      val w = Window.partitionBy("event_type")
        .orderBy(desc("value_r"), asc("event_id"))
      events(s, dir)
        .withColumn("value_r", round(col("value"), 6))
        .withColumn("rank", row_number().over(w).cast("bigint"))
        .where(col("rank") <= 3)
        .select("event_type", "rank", "event_id", "value_r")
        .orderBy("event_type", "rank")
    }),

    "q04_sessionize_events" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val epoch = col("ts").cast("timestamp").cast("long")
      events(s, dir)
        .withColumn("gap", epoch - lag(epoch, 1).over(w))
        .withColumn("new_session", when(col("gap").isNull || col("gap") > 3600, 1L).otherwise(0L))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum("new_session").as("n_sessions"))
        .orderBy("user_id")
    }),

    // ---- transcript derivation + invariants ----

    "q05_transcripts" -> ((s, dir) =>
      transcripts(s, dir).orderBy("conv_id", "turn_idx")
        .select(col("doc_id"), col("conv_id"), col("turn_idx").cast("bigint"),
                col("role"), col("text"))),

    "q06_turn_invariant" -> ((s, dir) => {
      val tr = transcripts(s, dir)
      val d = docs(s, dir).select(col("doc_id"), col("text").as("orig_text"))
      tr.join(d, "doc_id")
        .agg(
          count(lit(1)).as("n_turns"),
          countDistinct("conv_id").as("n_convs"),
          (count(lit(1)) - countDistinct(concat_ws(":", col("conv_id"), col("turn_idx"))))
            .as("n_key_dupes"),
          sum(when(col("text") =!= col("orig_text"), 1L).otherwise(0L)).as("n_mutated"))
    }),

    // ---- tokenization / n-grams / string similarity ----

    "q07_tokenize" -> ((s, dir) =>
      docsWithTokens(s, dir)
        .select(col("doc_id"),
                size(col("toks")).cast("bigint").as("n_tokens"),
                size(array_distinct(col("toks"))).cast("bigint").as("n_distinct"))
        .orderBy("doc_id")),

    "q08_token_freq" -> ((s, dir) =>
      docsWithTokens(s, dir)
        .select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("tok"))),

    "q09_bigram_freq" -> ((s, dir) =>
      operators.Fanout(docs(s, dir))
        .select(explode(TextFns.bigrams(TextFns.tokens(col("text")))).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("bg"))
        .limit(20)),

    // String-similarity demos over distinct bigram SURFACE FORMS (the
    // ER-relevant string universe — multi-word mention surfaces), with
    // the scale pattern a real vocabulary needs: prefix blocking
    // (equi-join on the first TWO chars) + a length band, NOT a cartesian
    // product. Block-size math at a 10⁶-surface vocab: a 1-char prefix
    // leaves ~n/36 ≈ 28k surfaces/block → ~4·10⁸ pairs per block (still
    // quadratic death); 2 chars × the ±2 length band cuts a block to
    // ~10²-10³ surfaces → ≤10⁶ pairs/block, uniform keys, and the pair
    // volume scales ~linearly with vocab until prefixes saturate.
    "q10_levenshtein" -> ((s, dir) => {
      val surfs = operators.Fanout(docs(s, dir))
        .select(explode(TextFns.bigrams(TextFns.tokens(col("text")))).as("srf"))
        .distinct()
        .withColumn("pfx", substring(col("srf"), 1, 2))
      surfs.as("A").join(surfs.as("B"),
          col("A.pfx") === col("B.pfx") && col("A.srf") < col("B.srf") &&
          abs(length(col("A.srf")) - length(col("B.srf"))) <= 2)
        .select(col("A.srf").as("a"), col("B.srf").as("b"),
                levenshtein(col("A.srf"), col("B.srf")).cast("bigint").as("dist"))
        .orderBy("a", "b")
    }),

    "q11_jaro_winkler" -> ((s, dir) => {
      val surfs = operators.Fanout(docs(s, dir))
        .select(explode(TextFns.bigrams(TextFns.tokens(col("text")))).as("srf"))
        .distinct()
        .withColumn("pfx", substring(col("srf"), 1, 2))
      surfs.as("A").join(surfs.as("B"),
          col("A.pfx") === col("B.pfx") && col("A.srf") < col("B.srf") &&
          abs(length(col("A.srf")) - length(col("B.srf"))) <= 2)
        .select(col("A.srf").as("a"), col("B.srf").as("b"),
                round(GraftFunctions.jaroWinkler(col("A.srf"), col("B.srf")), 4).as("jw"))
        .orderBy("a", "b")
    }),

    // ---- ER core over derived transcripts (the reference pipeline) ----

    "q12_mentions" -> ((s, dir) =>
      mentions(s, dir).toDF()
        .select(col("conv_id"), col("turn_idx").cast("bigint"),
                col("begin").cast("bigint").as("bpos"), col("norm").as("bg"))
        .orderBy("conv_id", "turn_idx", "bpos")),

    "q13_er_clusters" -> ((s, dir) =>
      clusteredMentions(s, dir)
        .select(col("mention_id"), col("cluster_id"), col("norm").as("bg"))
        .orderBy("mention_id")),

    "q14_cluster_sizes" -> ((s, dir) =>
      clusteredMentions(s, dir)
        .groupBy("cluster_id").agg(count(lit(1)).as("size"))
        .orderBy(desc("size"), asc("cluster_id"))),

    "q15_block_histogram" -> ((s, dir) =>
      mentions(s, dir).toDF()
        .groupBy(col("norm").as("bg"))
        .agg(count(lit(1)).as("n_mentions"),
             (count(lit(1)) * (count(lit(1)) - 1) / 2).as("n_pairs"))
        .orderBy("bg")),

    // ---- doc-similarity edges + connected components ----

    "q16_doc_edges" -> ((s, dir) => docEdges(s, dir)
        .select(col("src").cast("bigint"), col("dst").cast("bigint"), col("jac"))
        .orderBy("src", "dst")),

    "q17_doc_components" -> ((s, dir) => {
      val es = docEdges(s, dir)
        .select(format_string("%06d", col("src")).as("src"),
                format_string("%06d", col("dst")).as("dst"))
      operators.Clustering.connectedComponents(es)
        .select(col("node"), col("cluster_id"))
        .orderBy("node")
    }),

    // ---- dedup family ----

    "q18_dedup_exact" -> ((s, dir) => {
      val d = operators.Dedup.exact(docs(s, dir), "doc_id", "text")
      d.agg(count(lit(1)).as("n_docs"),
            countDistinct("rep_id").as("n_groups"),
            (count(lit(1)) - countDistinct("rep_id")).as("n_extra"))
    }),

    "q19_fingerprint" -> ((s, dir) =>
      docsWithTokens(s, dir)
        .withColumn("fp", TextFns.fingerprint(col("toks")))
        .agg(count(lit(1)).as("n_docs"),
             countDistinct("fp").as("n_fps"),
             (count(lit(1)) - countDistinct("fp")).as("n_bag_dupes"))),

    "q20_minhash_neardup" -> ((s, dir) =>
      operators.Dedup.minhashPairs(docs(s, dir), "doc_id", "text", threshold = 0.6)
        .orderBy("a_id", "b_id")),

    "q21_simhash_neardup" -> ((s, dir) =>
      operators.Dedup.simhashPairs(docs(s, dir), "doc_id", "text", maxHamming = 3)
        .select(col("a_id"), col("b_id"), col("hamming").cast("bigint"))
        .orderBy("a_id", "b_id")),

    // ---- text analytics ----

    "q22_quality" -> ((s, dir) =>
      docsWithTokens(s, dir)
        .withColumn("q", TextFns.qualitySignals(col("text"), col("toks")))
        .select(col("doc_id"),
                col("q.n_tokens").cast("bigint").as("n_tokens"),
                col("q.n_chars").cast("bigint").as("n_chars"),
                col("q.mean_token_len").as("mean_token_len"),
                col("q.stopword_ratio").as("stopword_ratio"),
                col("q.alnum_ratio").as("alnum_ratio"))
        .orderBy("doc_id")),

    "q23_langid" -> ((s, dir) =>
      docsWithTokens(s, dir)
        .withColumn("pred", TextFns.langId(col("toks")))
        .groupBy("pred").agg(count(lit(1)).as("n"))
        .orderBy("pred")),

    "q24_token_count" -> ((s, dir) =>
      docs(s, dir)
        .groupBy("source")
        .agg(sum(TextFns.bpeishTokenCount(col("text")).cast("bigint")).as("bpeish_tokens"),
             sum(TextFns.wsTokenCount(col("text")).cast("bigint")).as("ws_tokens"))
        .orderBy("source")),

    // ---- embeddings: cosine, ANN, near-dup ----

    "q25_embed_cosine" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val a = e.select(col("vec_id").as("a_id"), col("embedding").as("va"))
      val b = e.select((col("vec_id") - 1).as("a_id"), col("vec_id").as("b_id"),
                       col("embedding").as("vb"))
      a.join(b, "a_id")
        .select(col("a_id"), col("b_id"),
                round(GraftFunctions.cosineSim(col("va"), col("vb")), 5).as("cos"))
        .orderBy("a_id")
    }),

    "q26_ann_topk" -> ((s, dir) => {
      val corpus = embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val qs = corpus.where(col("id") < 10)
      operators.Ann.bruteForceTopK(corpus, qs, 5)
        .orderBy("q_id", "rank")
    }),

    "q27_embed_neardup" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val a = e.select(col("vec_id").as("a_id"), col("label").as("la"), col("embedding").as("va"))
      val b = e.select(col("vec_id").as("b_id"), col("label").as("lb"), col("embedding").as("vb"))
      a.join(b, col("la") === col("lb") &&
               col("b_id") > col("a_id") && col("b_id") <= col("a_id") + 50)
        .withColumn("cos", round(GraftFunctions.cosineSim(col("va"), col("vb")), 5))
        .where(col("cos") >= 0.3)
        .select(col("la").cast("bigint").as("label"), col("a_id"), col("b_id"), col("cos"))
        .orderBy("a_id", "b_id")
    }),

    // ---- prior-dictionary ETL (REL wikipedia_yago_freq analogue) ----

    // Prior-dictionary ETL, skew-safe shape (SURVEY §2.4's own
    // prescription): per-mention totals via groupBy+sum (map-side partial
    // agg) + join back, and the top-K cap via the partial-aggregating
    // TopKAgg — NO Window over the (Zipf-hot) mention key anywhere, so a
    // mention with 10⁸ anchors ships one partial row per partition instead
    // of pinning its whole partition to one task.
    "q28_prior_etl" -> ((s, dir) => {
      import s.implicits._
      val anchors = operators.Fanout(docs(s, dir))
        .select(explode(TextFns.bindArray(TextFns.tokens(col("text")), tk =>
          when(size(tk) >= 2,
            transform(sequence(lit(0), size(tk) - 2),
              i => struct(element_at(tk, i + 1).as("mention"),
                          element_at(tk, i + 2).as("entity"))))
          .otherwise(array()))).as("p"))
        .select(col("p.mention"), col("p.entity"))
      val counted = anchors.groupBy("mention", "entity").agg(count(lit(1)).as("cnt"))
      val totals = counted.groupBy("mention").agg(sum("cnt").as("total"))
      val withP = counted.join(totals, Seq("mention"))
        .withColumn("p", round(col("cnt").cast("double") / col("total"), 6))
      // top-3 by (p desc, entity asc) — TopKAgg's exact ordering; p is
      // rounded BEFORE ranking (both engines), keeping ties identical
      val topK = new graft.functions.TopKAgg(3).toColumn
      withP.select(col("mention"), col("p"), col("entity"))
        .as[(String, Double, String)]
        .groupByKey(_._1)
        .mapValues(t => (t._2, t._3))
        .agg(topK.name("top"))
        .toDF("mention", "top")
        .select(col("mention"), posexplode(col("top")))
        .select(col("mention"), col("col._2").as("entity"), col("col._1").as("p"),
                (col("pos") + 1).cast("bigint").as("rank"))
        .orderBy("mention", "rank")
    }),

    // ---- unicode folding / coref inheritance / multimodal columns ----

    // Accent-robust tokenization: accent-ify the corpus with a reversible
    // SQL transform, then tokenize through the NFKD fold — counts and the
    // folded token stream must equal DuckDB's strip_accents(lower()).
    "q29_unicode_fold" -> ((s, dir) => {
      val accented = docs(s, dir)
        .withColumn("atext", translate(col("text"), "ae", "äé"))
      accented
        .withColumn("ftoks", TextFns.foldedTokens(col("atext")))
        .select(col("doc_id"),
                size(col("ftoks")).cast("bigint").as("n_folded"),
                md5(concat_ws(" ", col("ftoks"))).as("folded_sig"))
        .orderBy("doc_id")
    }),

    // Coref candidate inheritance (REL with_coref analogue): uncovered
    // tokens matching a word of an earlier same-conversation mention
    // inherit its candidates; nearest preceding mention wins.
    "q30_coref" -> ((s, dir) =>
      corefMentions(s, dir).toDF()
        .select(col("conv_id"), col("turn_idx").cast("bigint"),
                col("begin").cast("bigint").as("bpos"), col("norm").as("bg"))
        .orderBy("conv_id", "turn_idx", "bpos")),

    // Multimodal payload columns: binary payload + typed meta struct;
    // relational ops touch only (sha, n_bytes, dims), never the blob.
    "q31_multimodal" -> ((s, dir) => {
      val m = operators.MultiModal.withMeta(
        operators.MultiModal.withPayload(docs(s, dir)))
      m.groupBy("modality")
        .agg(count(lit(1)).as("n_items"),
             countDistinct(col("meta.sha")).as("n_uniq"),
             sum(col("meta.n_bytes")).as("total_bytes"),
             max(col("meta.width")).cast("bigint").as("max_w"),
             max(col("meta.height")).cast("bigint").as("max_h"))
        .orderBy("modality")
    }),

    // IVF-Flat ANN over the embeddings table: deterministic coarse
    // quantizer (nlist smallest-id vectors as centroids — the oracle
    // recomputes the identical cell assignment in SQL), probe 2 of 8
    // cells, exact rerank inside. The scale path complementing q26's
    // exhaustive baseline and Ann.lshTopK's hyperplane buckets.
    "q32_ann_ivf" -> ((s, dir) => {
      val corpus = embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val qs = corpus.where(col("id") < 10)
      operators.Ann.ivfTopK(corpus, qs, k = 5, nlist = 8, nprobe = 2)
        .orderBy("q_id", "rank")
    }),

    // Winnowing document fingerprint (Schleimer et al., SIGMOD'03):
    // char-5-gram 60-bit md5 hashes, window 8, distinct window minima.
    // Map-only over documents; md5-based so the oracle reproduces every
    // hash bit-for-bit in SQL.
    "q33_winnow_fingerprint" -> ((s, dir) => {
      import s.implicits._
      // Fanout: the winnow kernel (one md5 per char-5-gram) is the most
      // expensive per-row map in the file — a one-task scan serializes it
      operators.Fanout(docs(s, dir).select(col("doc_id"), col("text")))
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          val hs = TextFns.winnowHashes(text, 5, 8)
          if (hs.isEmpty) None
          else Some((id, hs.length.toLong,
                     graft.functions.MinHash.md5Hex(hs.mkString(","))))
        }
        .toDF("doc_id", "n_fp", "fp_md5")
        .orderBy("doc_id")
    }),

    // Join-based mention detection with the dictionary as an ON-DISK
    // DIMENSION TABLE (SURVEY D3 degrade path; round-2 verdict's one real
    // 100-TB blocker): the p(e|m) dictionary is materialized as parquet
    // and equi-joined (bloom-prefiltered candidate explode) instead of
    // collected into a broadcast driver Map. Must produce EXACTLY the q12
    // mention set — same oracle; path equivalence is also property-tested
    // against the broadcast path in JoinedDetectSpec.
    "q34_mentions_joined" -> ((s, dir) => {
      import s.implicits._
      // keyed by applicationId: two concurrent sessions must not race on
      // one dimension-table path (round-3 ADVICE)
      val dictPath = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_q34_dict_${s.sparkContext.applicationId}").getAbsolutePath
      QueryLib.bigramDict.values.toSeq.sortBy(_.mention).toDS()
        .coalesce(1).write.mode("overwrite").parquet(dictPath)
      val dictDf = s.read.parquet(dictPath).as[DictEntry]
      val vecDf = Seq.empty[(String, Array[Float])].toDF("entity", "vec")
      Pipeline.Dictionary.Dimension(dictDf, vecDf)
        .mentions(QueryLib.turnsDs(s, dir), Pipeline.Config(coref = false))
        .toDF()
        .select(col("conv_id"), col("turn_idx").cast("bigint"),
                col("begin").cast("bigint").as("bpos"), col("norm").as("bg"))
        .orderBy("conv_id", "turn_idx", "bpos")
    }),

    // IVF-Flat ANN against a MATERIALIZED on-disk index (cell-partitioned
    // parquet + centroid sidecar): the build pays the corpus assignment
    // pass once; each query batch reads only its probed cells (partition
    // pruning). Same parameters as q32 → identical results, so q32's
    // exact oracle applies verbatim — the operator under test is the
    // persisted-index path.
    "q35_ann_ivf_indexed" -> ((s, dir) => {
      val corpus = embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val qs = corpus.where(col("id") < 10)
      val idxDir = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_q35_ivf_idx_${s.sparkContext.applicationId}").getAbsolutePath
      operators.Ann.buildIvfIndex(corpus, idxDir, nlist = 8)
      operators.Ann.ivfTopKIndexed(s, idxDir, qs, k = 5, nprobe = 2)
        .orderBy("q_id", "rank")
    }),

    // FLAGSHIP WITH A DISTRIBUTED DICTIONARY (round-3 verdict task 1):
    // the complete ER pipeline — detect ∪ coref-inherit → block → score →
    // cluster — with the p(e|m) dictionary as an on-disk parquet dimension
    // table and NO driver Map anywhere (Pipeline.runJoined). Must emit
    // exactly q13's clusters — same oracle; path equivalence is also
    // property-tested against the broadcast flagship in JoinedDetectSpec.
    "q36_er_clusters_joined" -> ((s, dir) => {
      import s.implicits._
      val dictPath = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_q36_dict_${s.sparkContext.applicationId}").getAbsolutePath
      QueryLib.bigramDict.values.toSeq.sortBy(_.mention).toDS()
        .coalesce(1).write.mode("overwrite").parquet(dictPath)
      val dictDf = s.read.parquet(dictPath).as[DictEntry]
      val vecDf = Seq.empty[(String, Array[Float])].toDF("entity", "vec")
      // dict cardinality is known here — skip the Bloom-sizing count job
      Pipeline.runJoined(QueryLib.turnsDs(s, dir), dictDf, vecDf,
        expectedDictKeys = QueryLib.bigramDict.size.toLong)
        .select(col("mention_id"), col("cluster_id"), col("norm").as("bg"))
        .orderBy("mention_id")
    }),

    // Random-hyperplane LSH ANN against a MATERIALIZED on-disk index
    // ((band, bucket-prefix)-partitioned parquet + meta sidecar): the
    // corpus bucketing pass is paid once at build; each query batch
    // reads only the partitions its probes land in. The hyperplane
    // family is md5-derived 20-bit INTEGER components against 20-bit
    // fixed-point embeddings (MinHash.hyperplane/quantize20), so the
    // sign buckets are exact int64 arithmetic the DuckDB oracle
    // recomputes bit-for-bit — the q21/q33 md5-kernel move applied to
    // sign-LSH. Exact in-memory equivalence and physical pruning are
    // additionally gated in AnnSpec. rows=8 (256 buckets/band) keeps
    // buckets dense at sf-test corpus sizes so the result set is
    // non-empty.
    "q37_ann_lsh_indexed" -> ((s, dir) => {
      val corpus = embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val qs = corpus.where(col("id") < 10)
      val idxDir = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_q37_lsh_idx_${s.sparkContext.applicationId}").getAbsolutePath
      operators.Ann.buildLshIndex(corpus, idxDir, bands = 8, rows = 8)
      operators.Ann.lshTopKIndexed(s, idxDir, qs, k = 5)
        .orderBy("q_id", "rank")
    }),

    // ---- generic engine operators a switching user expects (round 4) ----

    // AS-OF join: each purchase enriched with the user's most recent
    // prior-or-equal signup. Composed union+window operator (one shuffle
    // on the key, no range-pair explosion — AsOfJoin Scaladoc); the right
    // side is deduped per (user, ts) so ties are engine-independent.
    // Oracle uses DuckDB's NATIVE ASOF JOIN — independent implementation,
    // same semantics.
    "q38_asof_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val signups = ev.where(col("event_type") === "signup")
        .groupBy("user_id", "ts")
        .agg(min("event_id").as("signup_id"),
             round(min_by(col("value"), col("event_id")), 4).as("signup_value"))
      operators.AsOfJoin.lastPrior(purchases, signups,
          key = Seq("user_id"), ts = "ts", rightPayload = Seq("signup_id", "signup_value"))
        .select(col("event_id"), col("user_id"), col("signup_id"), col("signup_value"))
        .orderBy("event_id")
    }),

    // ROLLUP / grouping sets: subtotal + grand-total rows in one pass
    // (partial-agg friendly — no union of separate aggregations).
    "q39_rollup" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"),
             count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
                coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
                round(col("sum_qty"), 4).as("sum_qty"), col("n"))
        .orderBy("rf", "ls")
    }),

    // window FRAME analytics: per-user running/sliding aggregates over an
    // explicit ROWS frame + lag, the classic time-series shape.
    "q40_window_frames" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .withColumn("mov_avg_4",
          round(avg(col("value")).over(w.rowsBetween(-3, 0)), 4))
        .withColumn("run_max", round(max(col("value")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)), 4))
        .withColumn("prev_value", round(lag(col("value"), 1).over(w), 4))
        .where(col("prev_value").isNotNull) // drop per-user first rows (no NULL hashing)
        .select(col("event_id"), col("user_id"), col("mov_avg_4"),
                col("run_max"), col("prev_value"))
        .orderBy("event_id")
    }),

    // JSON column functions over the events.props payload
    "q41_json_extract" -> ((s, dir) => {
      events(s, dir)
        .select(col("event_id"),
                get_json_object(col("props"), "$.k").cast("bigint").as("k"))
        .groupBy((col("k") % 10).as("k_bucket"))
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"))
        .orderBy("k_bucket")
    }),

    // bounded time-RANGE self-join: same-user event pairs within 600 s,
    // planned as ONE equi-shuffle via window-width time bucketization
    // (RangeJoin Scaladoc) — never the per-key nested loop a theta join
    // would plan. Oracle is DuckDB's theta join (quadratic-per-key is
    // fine at oracle scale; floor(epoch) matches Spark's long cast).
    "q42_range_join" -> ((s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("event_id"), col("ts"))
      operators.RangeJoin.withinWindow(ev, ev,
          key = Seq("user_id"), ts = "ts", windowSec = 600L,
          leftPrefix = "a_", rightPrefix = "b_")
        .where(col("a_event_id") < col("b_event_id"))
        .select(col("user_id"), col("a_event_id"), col("b_event_id"),
          (col("b_ts").cast("timestamp").cast("long") -
           col("a_ts").cast("timestamp").cast("long")).as("delta_s"))
        .orderBy("user_id", "a_event_id", "b_event_id")
    }),

    // co-located BUCKETED join: fact and dimension both written bucketed
    // by user_id, so the join (and any same-key agg) plans with ZERO
    // shuffle exchanges — the layout pre-pays the shuffle once at write
    // time (TableIO.writeBucketed Scaladoc; exchange-free plan gated in
    // TableIOSpec). The oracle checks values with a plain join — the
    // operator under test is the physical layout, not new join semantics.
    "q43_bucketed_join" -> ((s, dir) => {
      // catalog table NAMES carry the applicationId too (sanitized for
      // identifier rules): two concurrent sessions sharing a metastore
      // would otherwise race on DROP TABLE/saveAsTable even with
      // per-session paths (round-4 ADVICE)
      val appTag = s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9_]", "_")
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_q43_buckets_$appTag").getAbsolutePath
      val ev = events(s, dir)
      val facts = ev.select(col("event_id"), col("user_id"))
      val dim = ev.where(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_purchase"),
             round(sum(col("value").cast("decimal(18,6)")).cast("double"), 4)
               .as("purchase_value"))
      // the two bucketed writes are independent jobs on disjoint
      // paths/table names — overlap them (guide §2.6) instead of paying
      // two serial write barriers
      val written = sources.TableIO.writeBucketedAll(Seq(
        (facts, s"graft_q43_facts_$appTag", s"$base/facts", Seq("user_id"), 8),
        (dim, s"graft_q43_dim_$appTag", s"$base/dim", Seq("user_id"), 8)))
      val (tf, td) = (written(0), written(1))
      tf.join(td, Seq("user_id"))
        .select(col("event_id"), col("user_id"), col("n_purchase"), col("purchase_value"))
        .orderBy("event_id")
    }),

    // PIVOT: per-user event-type counts as columns. The value list is
    // explicit, so there is no extra distinct-values collect job and the
    // conditional counts stay one map-side partial aggregation — at scale
    // an unpinned pivot('col') pays a full extra pass just to learn the
    // column set.
    "q44_pivot" -> ((s, dir) => {
      events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
        .orderBy("user_id")
    }),

    // Deterministic train/valid/test split by md5-cell interval
    // (Sampling.splitLabel): a row's split is a pure function of its key —
    // stable under repartitioning, cluster size, and incremental re-runs
    // (rand()-sampling migrates rows between splits on any re-plan = train/
    // test leakage). Exactly engine-reproducible, hence a DuckDB oracle.
    "q45_hash_split" -> ((s, dir) => {
      docs(s, dir)
        .select(col("n_chars"), operators.Sampling.splitLabel(col("doc_id"),
          Seq("train" -> 0.75, "valid" -> 0.125, "test" -> 0.125)).as("split"))
        .groupBy("split")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
        .orderBy("split")
    }),

    // date/time functions (the last §2.8 family still designed out):
    // calendar bucketing + part extraction — partial-agg friendly, the
    // natural partition key shape for time-partitioned 100-TB tables.
    "q46_date_trunc" -> ((s, dir) => {
      val ts = col("ts").cast("timestamp")
      events(s, dir)
        .select(to_date(ts).as("day"), hour(ts).as("hr"))
        .groupBy("day")
        .agg(count(lit(1)).as("n"), countDistinct(col("hr")).as("active_hours"))
        .orderBy("day")
    }),

    // INCREMENTAL flagship: the corpus arrives in two conversation-
    // disjoint batches; the first bootstraps the IncrementState base
    // tables (mentions/keyed/reps/clusters), the second is applied via
    // Pipeline.runIncremental (O(delta) detection, keying, pair work AND
    // clustering — CC runs on the contracted delta graph only). Must emit
    // exactly q13's clusters — the operator under test is incremental
    // maintenance, not new clustering semantics; equality-with-from-
    // scratch, delta-boundedness, and upsert-boundedness are also
    // property-gated in IncrementalSpec.
    "q48_er_clusters_incremental" -> ((s, dir) => {
      import s.implicits._
      val turns = QueryLib.turnsDs(s, dir)
      // conversation-complete split as a PURE FUNCTION of conv_id — no
      // driver-side collect of the conversation universe. The split must
      // be ORDERED, not hashed: runIncremental's ingestion-order
      // invariant assumes delta mention ids sort AFTER their supernode
      // group's base ids (Pipeline Scaladoc), which a lexicographic
      // threshold guarantees and an md5 sample would violate (delta
      // convs would interleave below base reps). conv ids here are
      // src0..src19; '< src2' puts {src0, src1, src10..src19} in the
      // base batch at every sf.
      val isBase = col("conv_id") < lit("src2")
      val dictionary = Pipeline.Dictionary.Broadcast(QueryLib.bigramDict, Map.empty)
      val state = Pipeline.bootstrapState(
        dictionary.mentions(turns.where(isBase).as[Turn]))
      val inc = Pipeline.runIncremental(
        turns.where(!isBase).as[Turn], dictionary, state)
      inc.clusters
        .select(col("mention_id"), col("cluster_id"), col("norm").as("bg"))
        .orderBy("mention_id")
    }),

    // STRATIFIED deterministic sampling: per-language quotas for a
    // training mixture (halve en, quarter zh, keep the rest) — per-class
    // md5-cell intervals, so rebalancing one language never reshuffles
    // another's picks (Sampling.hashSampleStratified).
    "q47_stratified_sample" -> ((s, dir) => {
      docs(s, dir)
        .where(operators.Sampling.hashSampleStratified(col("doc_id"), col("lang"),
          Map("en" -> 0.5, "zh" -> 0.25), default = 1.0))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
        .orderBy("lang")
    }),

    // JSONL INGESTION round-trip: the transcript table written as JSONL
    // (the format transcripts actually arrive in), re-ingested through
    // TranscriptSource (explicit schema, text+from_json, quarantine
    // split), and emitted in stable turn order — must equal the parquet
    // transcripts byte-for-byte vs the DuckDB oracle. Corrupt-line
    // quarantine semantics are gated in TranscriptSourceSpec.
    "q49_jsonl_ingest" -> ((s, dir) => {
      val jsonlDir = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_q49_jsonl_${s.sparkContext.applicationId}").getAbsolutePath
      QueryLib.turnsDs(s, dir).write.mode("overwrite").json(jsonlDir)
      sources.TranscriptSource.turns(
          sources.TranscriptSource.readJsonl(s, jsonlDir))
        .select(col("conv_id"), col("turn_idx").cast("bigint"),
                col("role"), col("text"))
        .orderBy("conv_id", "turn_idx")
    }),

    // EVAL-SET DECONTAMINATION: corpus docs sharing any 4-token n-gram
    // with the benchmark split (doc_id % 20 == 0 plays the eval set).
    // Benchmark grams explode+distinct on the SMALL side and broadcast;
    // the corpus gram stream is map-only and never crosses an exchange
    // unless contaminated (Decontaminate Scaladoc). Only the corpus scan
    // gets the scan-parallelism floor (Fanout): its tokenize+gram kernel is
    // the cost, while fanning out the small benchmark side measured as a
    // q50/q68 regression. Exact positional n-gram oracle.
    "q50_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      val bench = d.where(col("doc_id") % 20 === 0)
      val corpus = d.where(col("doc_id") % 20 =!= 0)
      operators.Decontaminate.flagged(
          operators.Fanout(corpus.select(col("doc_id"), col("text"))),
          bench, "doc_id", "text", n = 4)
        .select(col("id").as("doc_id"), col("n_hit_grams"), col("first_gram"))
        .orderBy("doc_id")
    }),

    // PII REDACTION with lineage counts: deterministic synthetic PII
    // (emails/phones/SSNs/IPs derived from doc_id — the sandbox corpus
    // contains none) planted into the text, then the Redact chain:
    // per-class match counts + the scrubbed text, all map-only codegen
    // column math. Oracle recomputes the identical plant + regex chain
    // in DuckDB (regexp_replace 'g'); redacted text compared via md5.
    "q51_pii_redact" -> ((s, dir) => {
      val planted = docs(s, dir).withColumn("ptext", concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
                 lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call 415-555-"),
                 lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" ssn 123-45-"),
                 lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" host 10.0."), (col("doc_id") % 256).cast("string"),
                 lit(".1"))).otherwise(lit(""))))
      operators.Redact.withRedaction(planted, "ptext")
        .select(col("doc_id"), col("n_email"), col("n_phone"), col("n_ssn"),
                col("n_ipv4"), md5(col("redacted")).as("redacted_sig"))
        .orderBy("doc_id")
    }),

    // CUBE: all four grouping sets of a 2-key aggregate in one pass —
    // rollup's (q39) sibling, completing the grouping-sets family.
    "q52_cube" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .cube("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"),
             count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
                coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
                round(col("sum_qty"), 4).as("sum_qty"), col("n"))
        .orderBy("rf", "ls")),

    // INTERSECT / EXCEPT: typed set ops over user-id sets (clickers who
    // did / did not buy) — Spark intersect()/except() vs native SQL
    // INTERSECT/EXCEPT in the oracle.
    "q53_set_ops" -> ((s, dir) => {
      val ev = events(s, dir)
      val clickers = ev.where(col("event_type") === "click")
        .select("user_id").distinct()
      val buyers = ev.where(col("event_type") === "purchase")
        .select("user_id").distinct()
      clickers.intersect(buyers).withColumn("set_op", lit("click_and_buy"))
        .unionByName(
          clickers.except(buyers).withColumn("set_op", lit("click_no_buy")))
        .select("set_op", "user_id")
        .orderBy("set_op", "user_id")
    }),

    // SEQUENCE PACKING (training-batch assembly), length-bucketed
    // variant: the assignment is a pure function of (id, tok_len) —
    // engine-reproducible, under-budget by construction, and the md5
    // sub-sharding bounds every serial row_number scan (Packing
    // Scaladoc). The tighter order-dependent FFD variant is property-
    // gated in PackingSpec instead (not SQL-expressible).
    "q54_seq_pack" -> ((s, dir) =>
      operators.Packing.packBucketed(docs(s, dir), "doc_id", "text",
          maxTokens = 128, granularity = 16, shardHexChars = 1)
        .select(col("id").as("doc_id"), col("tok_len"), col("bin_key"))
        .orderBy("doc_id")),

    // RETRACTION flagship: bootstrap the full corpus into IncrementState
    // base tables, then FORGET conversations src5..src9 via
    // Pipeline.runRetraction — O(affected-cluster) repair, no from-scratch
    // re-run. Must emit exactly the from-scratch clustering over the
    // remaining conversations (splits, rep re-minting, and cluster-id
    // re-mins are the operator under test; also property-gated in
    // RetractionSpec incl. a genuine bridge-mention split).
    "q55_er_clusters_retract" -> ((s, dir) => {
      import s.implicits._
      val turns = QueryLib.turnsDs(s, dir)
      val state = Pipeline.bootstrapState(
        Pipeline.Dictionary.Broadcast(QueryLib.bigramDict, Map.empty).mentions(turns))
      val ret = Pipeline.runRetraction(
        turns.select("conv_id").where(col("conv_id") >= "src5").distinct(), state)
      ret.clusters
        .select(col("mention_id"), col("cluster_id"), col("norm").as("bg"))
        .orderBy("mention_id")
    }),

    // NEAR-DUP CANONICALIZATION: minhash pairs (q20's exact set) →
    // connected components (transitive closure of ~) → keep ONE doc per
    // group: longest text, min-id tie-break. The full dedup decision a
    // corpus clean-up actually ships, not just the pair list.
    "q56_neardup_canonical" -> ((s, dir) =>
      operators.Dedup.canonicalize(docs(s, dir), "doc_id", "text", threshold = 0.6)
        .select(col("id").as("doc_id"), col("group_id"),
                col("group_size").cast("bigint").as("group_size"),
                col("n_chars"), col("keep"))
        .orderBy("doc_id")),

    // DUPLICATE-SPAN coverage (ExactSubstr family): per doc, the number
    // of token positions covered by a 3-gram that also occurs in another
    // document. Catches pasted boilerplate that doc-level minhash misses.
    "q57_dup_spans" -> ((s, dir) =>
      operators.Dedup.dupSpans(docs(s, dir), "doc_id", "text", n = 3)
        .select(col("id").as("doc_id"), col("n_tokens"),
                col("n_dup_positions"), col("dup_ratio"))
        .orderBy("doc_id")),

    // REPETITION quality flags (Gopher family): top-unigram share,
    // top-bigram share, distinct-token ratio — map-only column math.
    "q58_repetition" -> ((s, dir) =>
      docsWithTokens(s, dir)
        .withColumn("r", TextFns.repetitionSignals(col("toks")))
        .select(col("doc_id"),
                col("r.top_unigram_share").as("top_unigram_share"),
                col("r.top_bigram_share").as("top_bigram_share"),
                col("r.distinct_ratio").as("distinct_ratio"))
        .orderBy("doc_id")),

    // STATE COMPACTION: q48's bootstrap state rewritten into bucketed
    // tables (mentions/clusters by mention_id, keyed by block_key, edges
    // by src — Pipeline.compactState) before the increment runs over it.
    // Output must be IDENTICAL to q48: compaction is a pure physical-
    // layout rewrite; the bucketed base side is what stops the payload
    // attach and merged-view joins re-shuffling the corpus every cycle
    // at scale (plan-gated in CompactionSpec).
    "q59_compacted_increment" -> ((s, dir) => {
      import s.implicits._
      val turns = QueryLib.turnsDs(s, dir)
      val isBase = col("conv_id") < lit("src2")
      val dictionary = Pipeline.Dictionary.Broadcast(QueryLib.bigramDict, Map.empty)
      val state = Pipeline.bootstrapState(
        dictionary.mentions(turns.where(isBase).as[Turn]))
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_q59_compact_${s.sparkContext.applicationId}").getAbsolutePath
      val compacted = Pipeline.compactState(state, root, buckets = 4,
                                            label = "q59")
      val inc = Pipeline.runIncremental(
        turns.where(!isBase).as[Turn], dictionary, compacted)
      inc.clusters
        .select(col("mention_id"), col("cluster_id"), col("norm").as("bg"))
        .orderBy("mention_id")
    }),

    // TF-IDF keyword extraction: top-5 terms per document (smoothed idf,
    // term-asc tie-break). Slim (id, term, tf) rows after the map-side
    // partial count are all that shuffles; exact DuckDB oracle.
    "q60_tfidf" -> ((s, dir) =>
      operators.TfIdf.topTerms(docs(s, dir), "doc_id", "text", k = 5)
        .select(col("id").as("doc_id"), col("term"), col("tf"), col("df"),
                col("tfidf"), col("rank").cast("bigint").as("rank"))
        .orderBy("doc_id", "rank")),

    // DATA PROFILING: one aggregation pass over the table computes every
    // column's (n, nulls, distinct, min, max, mean, p50) — exact forms
    // here for the oracle; approx_count_distinct/approx_percentile are
    // the documented 10^12-row swap-ins (Profile Scaladoc).
    "q61_profile" -> ((s, dir) =>
      operators.Profile.profile(
          docs(s, dir).select("doc_id", "lang", "n_chars"),
          Seq("doc_id", "lang", "n_chars"))
        .orderBy("col_name")),

    // BOILERPLATE catalog: turn templates (2-token normalized prefix)
    // recurring in ≥3 distinct conversations — the CCNet shared-paragraph
    // criterion with conversations as the independence unit. Only
    // (prefix, conv_id) crosses the shuffle; text never does.
    "q62_boilerplate_catalog" -> ((s, dir) =>
      operators.Boilerplate.catalog(transcripts(s, dir), "text", "conv_id",
          keyTokens = 2, minConvs = 3)
        .orderBy("prefix")),

    // BOILERPLATE removal: the transcripts minus every turn keyed by a
    // catalog template — anti-join on the slim key, AQE-broadcast when the
    // catalog fits (it is bounded by total_convs / minConvs).
    "q63_boilerplate_clean" -> ((s, dir) =>
      operators.Boilerplate.clean(transcripts(s, dir), "text", "conv_id",
          keyTokens = 2, minConvs = 3)
        .select(col("conv_id"), col("turn_idx").cast("bigint"))
        .orderBy("conv_id", "turn_idx")),

    // SNAPSHOT DIFF: corpus-version delta between two deterministic
    // snapshots of documents (old = doc_id%10≠0; new = doc_id%7≠0 with
    // doc_id%5=0 texts mutated) — added/removed/changed only, unchanged
    // majority excluded; both sides reduced to (id, md5) pre-join.
    "q64_snapshot_diff" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val oldSnap = d.where(col("doc_id") % 10 =!= 0)
      val newSnap = d.where(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      operators.SnapshotDiff.diff(oldSnap, newSnap, "doc_id", "text")
        .orderBy("id")
    }),

    // INCREMENTAL near-dup: the ingest delta (doc_id%5=0) paired against
    // the base corpus and itself — never base×base. The only dedup shape
    // that works under continuous ingestion (re-pairing the corpus every
    // cycle is O(corpus) work for an O(delta) question).
    "q65_neardup_delta" -> ((s, dir) => {
      val d = docs(s, dir)
      operators.Dedup.minhashPairsDelta(
          d.where(col("doc_id") % 5 =!= 0), d.where(col("doc_id") % 5 === 0),
          "doc_id", "text", threshold = 0.6)
        .orderBy("a_id", "b_id")
    }),

    // TOKEN-BUDGET MIXTURE: each source down-sampled to a 1000-token
    // budget via per-class md5-cell fractions — frac = min(1,
    // budget/total_tokens) quantized to Mixture's 16^6-cell grid (fine
    // enough that a positive budget never drops a class), so the whole
    // chain (token totals -> fraction -> keep predicate) is closed-form
    // and engine-reproducible.
    "q66_token_mixture" -> ((s, dir) =>
      operators.Mixture.materialize(docs(s, dir), "doc_id", "source", "text",
          Map.empty, defaultBudget = 1000L)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),

    // BLOCKING QUALITY: a cheap 2-token prefix key evaluated against the
    // exact near-dup gold (q20's pair set) — reduction ratio, pair
    // completeness, pairs quality, computed WITHOUT materializing a
    // single candidate pair (per-block C(n,2) counts + two slim joins
    // onto the gold list). How a key family is chosen before paying for
    // scoring.
    "q67_blocking_quality" -> ((s, dir) => {
      val d = docs(s, dir)
      val items = d.select(col("doc_id"),
        operators.Boilerplate.prefixKey(col("text"), 2).as("bkey"))
      val gold = operators.Dedup.minhashPairs(d, "doc_id", "text", threshold = 0.6)
      operators.Blocking.qualityStats(items, "doc_id", "bkey", gold)
    }),

    // FULL CURATION CHAIN: exact-dedup → decontaminate (vs the doc_id%97
    // benchmark carve) → PII-redact → quality gate → token-budget mixture
    // → sequence packing, composed from the individually-oracled stages
    // and replayed end-to-end by ONE SQL oracle — stage-wise green does
    // not prove the hand-offs; this does.
    "q68_curation" -> ((s, dir) => {
      val d = docs(s, dir)
      operators.Curation.curate(
          d.where(col("doc_id") % 97 =!= 0), d.where(col("doc_id") % 97 === 0),
          "doc_id", "source", "text")
        .orderBy("doc_id")
    }),

    // MUST-LINK overlay: human adjudication pairs (doc_id, doc_id+250 at
    // doc_id%50=0) unioned into the doc-edge graph BEFORE connected
    // components — adjudication outranks the scorer, transitively.
    "q69_constrained_components" -> ((s, dir) => {
      val es = docEdges(s, dir)
        .select(format_string("%06d", col("src")).as("src"),
                format_string("%06d", col("dst")).as("dst"))
      val d = docs(s, dir).select(col("doc_id"))
      val ml = d.as("A").join(d.as("B"), col("B.doc_id") === col("A.doc_id") + 250)
        .where(col("A.doc_id") % 50 === 0)
        .select(format_string("%06d", col("A.doc_id")).as("src"),
                format_string("%06d", col("B.doc_id")).as("dst"))
      operators.Constraints.clusterWithMustLink(es, ml)
        .select("node", "cluster_id").orderBy("node")
    }),

    // CANNOT-LINK audit: constraint pairs landing in one cluster come
    // back as the violation worklist (reported, never silently enforced —
    // constrained CC is NP-hard and a violated cannot-link means some
    // edge is WRONG, which a reviewer should see). Half the constraints
    // here are planted violations (even-src edges), half are far-apart
    // pairs that must NOT be emitted.
    "q70_constraint_violations" -> ((s, dir) => {
      val es = docEdges(s, dir)
        .select(format_string("%06d", col("src")).as("src"),
                format_string("%06d", col("dst")).as("dst"))
      val assign = operators.Clustering.connectedComponents(es)
      val d = docs(s, dir).select(col("doc_id"))
      val far = d.as("A").join(d.as("B"), col("B.doc_id") === col("A.doc_id") + 111)
        .where(col("A.doc_id") % 37 === 0)
        .select(format_string("%06d", col("A.doc_id")).as("src"),
                format_string("%06d", col("B.doc_id")).as("dst"))
      val cl = es.where(col("src").cast("bigint") % 2 === 0).unionByName(far)
      operators.Constraints.violations(assign, cl).orderBy("a", "b")
    }),

    // SCORING EXPLAIN: the real Scoring.withFeatures over a relationally
    // derived pair frame with MULTI-candidate priors — the per-pair
    // feature dump a reviewer gets when asking WHY two records scored
    // together (q13's end-to-end oracle can't show it). Candidates =
    // each doc's top-3 tokens with frequency-normalized priors; ctx =
    // the doc's embedding; pairs = consecutive ids (q25's pairing). The
    // prior-overlap ARRAY lambda (max over shared entities of
    // min(prior)) is replayed relationally as a guarded max-least join —
    // exercising shared, partial, and disjoint candidate paths.
    "q71_score_explain" -> ((s, dir) => {
      val tc = docs(s, dir)
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      val rkW = Window.partitionBy("doc_id").orderBy(desc("cnt"), asc("tok"))
      val pr = tc.withColumn("rk", row_number().over(rkW)).where(col("rk") <= 3)
        .withColumn("prior",
          col("cnt").cast("double") / sum("cnt").over(Window.partitionBy("doc_id")))
      val cands = pr.groupBy("doc_id").agg(
        collect_list(struct(col("tok").as("entity"), col("prior").as("prior")))
          .as("candidates"),
        max(when(col("rk") === 1, col("tok"))).as("resolved"),
        max(when(col("rk") === 1, col("prior"))).as("resolvedScore"))
      val m = docs(s, dir)
        .select(col("doc_id"),
                operators.Boilerplate.prefixKey(col("text"), 2).as("norm"))
        .join(cands, "doc_id")
        .join(embeddings(s, dir)
          .select(col("vec_id").as("doc_id"), col("embedding").as("ctx")), "doc_id")
      val mside = struct(col("norm"), col("ctx"), col("candidates"),
                         col("resolved"), col("resolvedScore"))
      val pa = m.select(col("doc_id").as("a_id"), mside.as("a"))
      val pb = m.select((col("doc_id") - 1).as("a_id"),
                        col("doc_id").as("b_id"), mside.as("b"))
      operators.Scoring.withFeatures(pa.join(pb, "a_id"))
        .select(col("a_id"), col("b_id"),
                round(col("f_jw"), 5).as("f_jw"), round(col("f_lev"), 5).as("f_lev"),
                round(col("f_cos"), 5).as("f_cos"), round(col("f_prior"), 5).as("f_prior"),
                col("f_agree"), round(col("score"), 5).as("score"))
        .orderBy("a_id")
    }),

    // BANDING PLANNER: recall-vs-cost table for every sound LSH banding
    // of k=128, evaluated against the corpus's EMPIRICAL similarity
    // distribution on a deterministic md5-cell sample — the round-5
    // bench measured why (0.6-exact banding admits a 0.25% baseline
    // candidate rate on template-heavy text; 0.8's 32x4 admits ~5e-8):
    // read the table, pick the cheapest row whose recall is acceptable,
    // BEFORE paying for the join.
    "q72_banding_plan" -> ((s, dir) =>
      operators.Dedup.bandingPlan(docs(s, dir), "doc_id", "text",
          threshold = 0.6, sampleFrac = 0.1)
        .orderBy(desc("band_rows"))),
  )

  /** Doc-similarity edges: same conversation (source), turn distance ≤ 3,
    * distinct-token jaccard ≥ 0.75.
    *
    * The bounded turn window is joined as a pure EQUI key — the A side
    * explodes offsets 1..3 and joins on (conv_id, turn_idx + off) — not
    * as a `B.turn_idx BETWEEN ...` non-equi condition on a conv_id-only
    * join. The non-equi form evaluates the jaccard filter on every
    * intra-conversation pair (quadratic in conversation length: a 10⁶-turn
    * conversation would produce 10¹² candidate rows before the window
    * filter); the equi form produces exactly ≤3 candidates per turn and
    * every shuffle partition key is (conv, turn) — uniform, AQE-friendly.
    * Measured 7× on q16 at sf0.1 (14 s → 2 s). */
  private def docEdges(s: SparkSession, dir: String): DataFrame = {
    val d = transcripts(s, dir)
      .withColumn("ts2", array_distinct(TextFns.tokens(col("text"))))
      .select(col("doc_id"), col("conv_id"), col("turn_idx"), col("ts2"))
    val b = d.select(col("conv_id"), col("turn_idx").as("b_turn"),
                     col("doc_id").as("b_doc"), col("ts2").as("b_ts"))
    val a = d.withColumn("off", explode(sequence(lit(1), lit(3))))
      .withColumn("b_turn", col("turn_idx") + col("off"))
    a.join(b, Seq("conv_id", "b_turn"))
      .withColumn("inter", size(array_intersect(col("ts2"), col("b_ts"))).cast("double"))
      .withColumn("uni",
        (size(col("ts2")) + size(col("b_ts"))).cast("double") - col("inter"))
      .withColumn("jac", round(when(col("uni") > 0, col("inter") / col("uni")).otherwise(0.0), 4))
      .where(col("jac") >= 0.75)
      .select(col("doc_id").as("src"), col("b_doc").as("dst"), col("jac"))
  }

  // ------------------------------------------------------------------
  //  DuckDB oracles (driver-run at sf0.01). Probabilistic internals are
  //  oracled via exact reformulations: q20 minhash via exact all-pairs
  //  jaccard (the LSH banding is recall-sound at the verify threshold),
  //  q21 simhash via an exact md5-hash signature recomputation in SQL.
  // ------------------------------------------------------------------

  def oracleSql: Map[String, String] = Map(

    "q01_lineitem_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q02_orders_by_segment" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q03_top_events" ->
      """SELECT event_type, rank, event_id, value_r FROM (
        |  SELECT event_type, event_id, round(value, 6) AS value_r,
        |         CAST(row_number() OVER (PARTITION BY event_type
        |             ORDER BY round(value, 6) DESC, event_id) AS BIGINT) AS rank
        |  FROM events)
        |WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin,

    // floor(epoch(ts)) matches Spark's cast-to-long seconds truncation on
    // sub-second timestamps; CAST(sum AS BIGINT) because DuckDB sums
    // integers to HUGEINT while Spark emits BIGINT (round-1 hash fail).
    "q04_sessionize_events" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CASE WHEN gap IS NULL OR gap > 3600 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
        |FROM (
        |  SELECT user_id,
        |         CAST(floor(epoch(ts)) AS BIGINT)
        |           - lag(CAST(floor(epoch(ts)) AS BIGINT))
        |             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q05_transcripts" ->
      s"""WITH $transcriptsSql
         |SELECT doc_id, conv_id, turn_idx, role, text FROM tr
         |ORDER BY conv_id, turn_idx""".stripMargin,

    "q06_turn_invariant" ->
      s"""WITH $transcriptsSql
         |SELECT count(*) AS n_turns,
         |  count(DISTINCT conv_id) AS n_convs,
         |  count(*) - count(DISTINCT conv_id || ':' || turn_idx) AS n_key_dupes,
         |  CAST(sum(CASE WHEN tr.text <> d.text THEN 1 ELSE 0 END) AS BIGINT) AS n_mutated
         |FROM tr JOIN documents d USING (doc_id)""".stripMargin,

    "q07_tokenize" ->
      s"""WITH ${QueryLib.TokCte}
         |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
         |FROM tk ORDER BY doc_id""".stripMargin,

    "q08_token_freq" ->
      """SELECT tok, count(*) AS cnt FROM (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |  FROM documents)
        |GROUP BY 1 ORDER BY cnt DESC, tok""".stripMargin,

    "q09_bigram_freq" ->
      """SELECT a.tok || ' ' || b.tok AS bg, count(*) AS cnt
        |FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text),'[a-z0-9]+')) AS tok,
        |             generate_subscripts(regexp_extract_all(lower(text),'[a-z0-9]+'),1) AS pos
        |      FROM documents) a
        |JOIN (SELECT doc_id, unnest(regexp_extract_all(lower(text),'[a-z0-9]+')) AS tok,
        |             generate_subscripts(regexp_extract_all(lower(text),'[a-z0-9]+'),1) AS pos
        |      FROM documents) b
        |  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |GROUP BY 1 ORDER BY cnt DESC, bg LIMIT 20""".stripMargin,

    "q10_levenshtein" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text),'[a-z0-9]+')) AS tok,
        |         generate_subscripts(regexp_extract_all(lower(text),'[a-z0-9]+'),1) AS pos
        |  FROM documents),
        |bgs AS (
        |  SELECT DISTINCT a.tok || ' ' || b.tok AS srf
        |  FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1)
        |SELECT a.srf AS a, b.srf AS b, CAST(levenshtein(a.srf, b.srf) AS BIGINT) AS dist
        |FROM bgs a, bgs b
        |WHERE substr(a.srf, 1, 2) = substr(b.srf, 1, 2) AND a.srf < b.srf
        |  AND abs(length(a.srf) - length(b.srf)) <= 2
        |ORDER BY a, b""".stripMargin,

    "q11_jaro_winkler" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text),'[a-z0-9]+')) AS tok,
        |         generate_subscripts(regexp_extract_all(lower(text),'[a-z0-9]+'),1) AS pos
        |  FROM documents),
        |bgs AS (
        |  SELECT DISTINCT a.tok || ' ' || b.tok AS srf
        |  FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1)
        |SELECT a.srf AS a, b.srf AS b, round(jaro_winkler_similarity(a.srf, b.srf), 4) AS jw
        |FROM bgs a, bgs b
        |WHERE substr(a.srf, 1, 2) = substr(b.srf, 1, 2) AND a.srf < b.srf
        |  AND abs(length(a.srf) - length(b.srf)) <= 2
        |ORDER BY a, b""".stripMargin,

    "q12_mentions" ->
      s"""WITH ${QueryLib.mentionsSql}
         |SELECT conv_id, turn_idx, bpos, bg FROM mentions
         |ORDER BY conv_id, turn_idx, bpos""".stripMargin,

    // Flagship cluster oracle over the detected ∪ coref-inherited union:
    // every mention of one bigram key (inherited ones carry their source's
    // key) lands in one cluster whose id is the min mention_id.
    "q13_er_clusters" ->
      s"""WITH ${QueryLib.allMentionsSql}
         |SELECT printf('%s:%06d:%06d', conv_id, turn_idx, bpos) AS mention_id,
         |       min(printf('%s:%06d:%06d', conv_id, turn_idx, bpos)) OVER (PARTITION BY bg) AS cluster_id,
         |       bg
         |FROM allm ORDER BY mention_id""".stripMargin,

    "q14_cluster_sizes" ->
      s"""WITH ${QueryLib.allMentionsSql}
         |SELECT min(printf('%s:%06d:%06d', conv_id, turn_idx, bpos)) AS cluster_id,
         |       count(*) AS size
         |FROM allm GROUP BY bg ORDER BY size DESC, cluster_id""".stripMargin,

    "q15_block_histogram" ->
      s"""WITH ${QueryLib.mentionsSql}
         |SELECT bg, count(*) AS n_mentions,
         |       count(*) * (count(*) - 1) / 2 AS n_pairs
         |FROM mentions GROUP BY bg ORDER BY bg""".stripMargin,

    "q16_doc_edges" ->
      s"""WITH $transcriptsSql,
         |d AS (SELECT doc_id, conv_id, turn_idx,
         |             list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS ts
         |      FROM tr)
         |SELECT a.doc_id AS src, b.doc_id AS dst,
         |       round(len(list_intersect(a.ts, b.ts)) * 1.0 /
         |             (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))), 4) AS jac
         |FROM d a JOIN d b ON a.conv_id = b.conv_id
         |  AND b.turn_idx > a.turn_idx AND b.turn_idx <= a.turn_idx + 3
         |WHERE round(len(list_intersect(a.ts, b.ts)) * 1.0 /
         |            (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))), 4) >= 0.75
         |ORDER BY src, dst""".stripMargin,

    "q17_doc_components" ->
      s"""WITH RECURSIVE $transcriptsSql,
         |d AS (SELECT doc_id, conv_id, turn_idx,
         |             list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS ts
         |      FROM tr),
         |e0 AS (
         |  SELECT printf('%06d', a.doc_id) AS src, printf('%06d', b.doc_id) AS dst
         |  FROM d a JOIN d b ON a.conv_id = b.conv_id
         |    AND b.turn_idx > a.turn_idx AND b.turn_idx <= a.turn_idx + 3
         |  WHERE round(len(list_intersect(a.ts, b.ts)) * 1.0 /
         |              (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))), 4) >= 0.75),
         |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |n AS (SELECT DISTINCT src AS node FROM e),
         |r AS (
         |  SELECT node, node AS reach FROM n
         |  UNION
         |  SELECT e.dst AS node, r.reach FROM r JOIN e ON e.src = r.node)
         |SELECT node, min(reach) AS cluster_id FROM r GROUP BY node ORDER BY node""".stripMargin,

    "q18_dedup_exact" ->
      """SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_groups,
        |       count(*) - count(DISTINCT md5(text)) AS n_extra
        |FROM documents""".stripMargin,

    "q19_fingerprint" ->
      s"""WITH ${QueryLib.TokCte}
         |SELECT count(*) AS n_docs,
         |       count(DISTINCT md5(array_to_string(list_sort(list_distinct(toks)), ' '))) AS n_fps,
         |       count(*) - count(DISTINCT md5(array_to_string(list_sort(list_distinct(toks)), ' '))) AS n_bag_dupes
         |FROM tk""".stripMargin,

    "q20_minhash_neardup" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text),'[a-z0-9]+')) AS tok,
        |         generate_subscripts(regexp_extract_all(lower(text),'[a-z0-9]+'),1) AS pos
        |  FROM documents),
        |sh AS (
        |  SELECT a.doc_id, list_distinct(list(a.tok || ' ' || b.tok || ' ' || c.tok)) AS s
        |  FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |           JOIN t c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
        |  GROUP BY a.doc_id)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       round(len(list_intersect(a.s, b.s)) * 1.0 /
        |             (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE round(len(list_intersect(a.s, b.s)) * 1.0 /
        |            (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) >= 0.6
        |ORDER BY a_id, b_id""".stripMargin,

    // Exact all-pairs SimHash at Hamming<=3 — reproduces the Spark kernel
    // bit-for-bit: the feature hash is the first 8 bytes of md5(token)
    // (MinHash.md5Long == ('0x'||substr(md5(tok),1,16))::UBIGINT), bit j of
    // the signature is sign(sum over token occurrences of ±1), pairs by
    // bit_count(xor). Spark's Manku block-banding has recall 1.0 at <=3
    // bits (pigeonhole), so both sides are the same exact pair set.
    "q21_simhash_neardup" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text),'[a-z0-9]+')) AS tok
        |  FROM documents),
        |tc AS (SELECT doc_id, tok, count(*) AS cnt FROM t GROUP BY 1, 2),
        |h AS (SELECT doc_id, ('0x' || substr(md5(tok),1,16))::UBIGINT AS hv, cnt FROM tc),
        |bits AS (
        |  SELECT doc_id, b AS bit,
        |         sum(CASE WHEN (hv >> b) & 1 = 1 THEN cnt ELSE -cnt END) AS s
        |  FROM h, (SELECT unnest(range(64)) AS b) bb
        |  GROUP BY 1, 2),
        |sig AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN s > 0 THEN (1::UBIGINT << bit) ELSE 0::UBIGINT END) AS UBIGINT) AS sim
        |  FROM bits GROUP BY 1)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sim, b.sim)) <= 3
        |ORDER BY a_id, b_id""".stripMargin,

    "q22_quality" ->
      s"""WITH ${QueryLib.TokCte},
         |q AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |         CAST(length(text) AS BIGINT) AS n_chars,
         |         CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS BIGINT) AS alnum,
         |         CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','is','to','in','that','it','for'], x))) AS BIGINT) AS stop
         |  FROM tk)
         |SELECT doc_id, n_tokens, n_chars,
         |  round(CASE WHEN n_tokens > 0 THEN alnum * 1.0 / n_tokens ELSE 0.0 END, 4) AS mean_token_len,
         |  round(CASE WHEN n_tokens > 0 THEN stop * 1.0 / n_tokens ELSE 0.0 END, 4) AS stopword_ratio,
         |  round(CASE WHEN n_chars > 0 THEN alnum * 1.0 / n_chars ELSE 0.0 END, 4) AS alnum_ratio
         |FROM q ORDER BY doc_id""".stripMargin,

    "q23_langid" ->
      s"""WITH ${QueryLib.TokCte},
         |h AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','is','to','in'], x))) AS BIGINT) AS en,
         |    CAST(len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','zu','ein'], x))) AS BIGINT) AS de,
         |    CAST(len(list_filter(toks, x -> list_contains(['el','la','de','y','es','en','un'], x))) AS BIGINT) AS es,
         |    CAST(len(list_filter(toks, x -> list_contains(['le','la','de','et','est','en','un'], x))) AS BIGINT) AS fr
         |  FROM tk)
         |SELECT pred, count(*) AS n FROM (
         |  SELECT CASE
         |    WHEN greatest(en, de, es, fr) = 0 THEN 'und'
         |    WHEN fr = greatest(en, de, es, fr) THEN 'fr'
         |    WHEN es = greatest(en, de, es, fr) THEN 'es'
         |    WHEN en = greatest(en, de, es, fr) THEN 'en'
         |    ELSE 'de' END AS pred
         |  FROM h)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q24_token_count" ->
      """SELECT source,
        |  CAST(sum(CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT)) AS BIGINT) AS bpeish_tokens,
        |  CAST(sum(CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)) AS BIGINT) AS ws_tokens
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q25_embed_cosine" ->
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 5) AS cos
        |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        |ORDER BY a_id""".stripMargin,

    "q26_ann_topk" ->
      """SELECT q_id, rank, id, cos FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS id,
        |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 5) AS cos,
        |    CAST(row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 5) DESC,
        |               c.vec_id) AS BIGINT) AS rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id <> q.vec_id)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "q27_embed_neardup" ->
      """SELECT CAST(a.label AS BIGINT) AS label, a.vec_id AS a_id, b.vec_id AS b_id,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 5) AS cos
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 50
        |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 5) >= 0.3
        |ORDER BY a_id, b_id""".stripMargin,

    "q28_prior_etl" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text),'[a-z0-9]+')) AS tok,
        |         generate_subscripts(regexp_extract_all(lower(text),'[a-z0-9]+'),1) AS pos
        |  FROM documents),
        |anchors AS (
        |  SELECT a.tok AS mention, b.tok AS entity, count(*) AS cnt
        |  FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  GROUP BY 1, 2),
        |withp AS (
        |  SELECT mention, entity,
        |         round(cnt * 1.0 / sum(cnt) OVER (PARTITION BY mention), 6) AS p
        |  FROM anchors)
        |SELECT mention, entity, p, rank FROM (
        |  SELECT mention, entity, p,
        |         CAST(row_number() OVER (PARTITION BY mention ORDER BY p DESC, entity) AS BIGINT) AS rank
        |  FROM withp)
        |WHERE rank <= 3 ORDER BY mention, rank""".stripMargin,

    "q29_unicode_fold" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(strip_accents(lower(translate(text, 'ae', 'äé'))), '[a-z0-9]+')) AS BIGINT) AS n_folded,
        |  md5(array_to_string(regexp_extract_all(strip_accents(lower(translate(text, 'ae', 'äé'))), '[a-z0-9]+'), ' ')) AS folded_sig
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Coref inheritance over the bigram-dictionary mentions: a token at an
    // uncovered position matching either word of a strictly-earlier
    // same-conversation mention inherits that mention's key; nearest
    // preceding (turn desc, bpos desc), then bg asc — mirroring
    // Coref.inheritedOfConv exactly.
    "q30_coref" ->
      s"""WITH ${QueryLib.mentionsSql},
         |${QueryLib.corefCtes}
         |SELECT conv_id, turn_idx, p AS bpos, bg FROM inh WHERE rn = 1
         |ORDER BY conv_id, turn_idx, bpos""".stripMargin,

    "q31_multimodal" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE CAST((doc_id + length(source)) % 3 AS INT)
        |      WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'text' END AS modality,
        |    md5(text) AS sha,
        |    octet_length(encode(text)) AS n_bytes,
        |    ('0x' || substr(md5(text), 1, 4))::INT % 640 AS w,
        |    ('0x' || substr(md5(text), 5, 4))::INT % 480 AS h
        |  FROM documents)
        |SELECT modality, count(*) AS n_items, count(DISTINCT sha) AS n_uniq,
        |       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
        |       CAST(max(w) AS BIGINT) AS max_w, CAST(max(h) AS BIGINT) AS max_h
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    "q32_ann_ivf" ->
      """WITH cents AS (
        |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings ORDER BY vec_id LIMIT 8),
        |assign AS (
        |  SELECT id, cell FROM (
        |    SELECT e.vec_id AS id, c.cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv), 5) DESC, c.cell) AS rn
        |    FROM embeddings e CROSS JOIN cents c)
        |  WHERE rn = 1),
        |probe AS (
        |  SELECT q_id, cell FROM (
        |    SELECT q.vec_id AS q_id, c.cell,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), c.cv), 5) DESC, c.cell) AS rn
        |    FROM embeddings q CROSS JOIN cents c WHERE q.vec_id < 10)
        |  WHERE rn <= 2),
        |scored AS (
        |  SELECT p.q_id, a.id,
        |    round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]), CAST(ce.embedding AS DOUBLE[])), 5) AS cos
        |  FROM probe p JOIN assign a USING (cell)
        |  JOIN embeddings qe ON qe.vec_id = p.q_id
        |  JOIN embeddings ce ON ce.vec_id = a.id
        |  WHERE a.id <> p.q_id)
        |SELECT q_id, rank, id, cos FROM (
        |  SELECT q_id, id, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, id) AS BIGINT) AS rank
        |  FROM scored)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "q33_winnow_fingerprint" ->
      """WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
        |g AS (
        |  SELECT doc_id, i,
        |    ('0x' || substr(md5(substr(t, CAST(i AS INT), 5)), 1, 15))::UBIGINT AS hv,
        |    length(t) - 5 + 1 AS n
        |  FROM d, LATERAL (SELECT unnest(range(1, length(t) - 5 + 2)) AS i) r),
        |wmin AS (
        |  SELECT doc_id, i, n,
        |    min(hv) OVER (PARTITION BY doc_id ORDER BY i
        |                  ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mh
        |  FROM g),
        |sel AS (
        |  SELECT DISTINCT doc_id, mh FROM wmin
        |  WHERE i <= greatest(1, n - 8 + 1))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
        |       md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY mh)) AS fp_md5
        |FROM sel GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // identical mention set to q12 — the operator under test is the
    // dimension-table JOIN path, not a new detection semantics
    "q34_mentions_joined" ->
      s"""WITH ${QueryLib.mentionsSql}
         |SELECT conv_id, turn_idx, bpos, bg FROM mentions
         |ORDER BY conv_id, turn_idx, bpos""".stripMargin,

    // identical to q32 (same nlist/nprobe/k and deterministic centroids) —
    // the persisted index must not change a single row
    "q35_ann_ivf_indexed" ->
      """WITH cents AS (
        |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings ORDER BY vec_id LIMIT 8),
        |assign AS (
        |  SELECT id, cell FROM (
        |    SELECT e.vec_id AS id, c.cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv), 5) DESC, c.cell) AS rn
        |    FROM embeddings e CROSS JOIN cents c)
        |  WHERE rn = 1),
        |probe AS (
        |  SELECT q_id, cell FROM (
        |    SELECT q.vec_id AS q_id, c.cell,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), c.cv), 5) DESC, c.cell) AS rn
        |    FROM embeddings q CROSS JOIN cents c WHERE q.vec_id < 10)
        |  WHERE rn <= 2),
        |scored AS (
        |  SELECT p.q_id, a.id,
        |    round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]), CAST(ce.embedding AS DOUBLE[])), 5) AS cos
        |  FROM probe p JOIN assign a USING (cell)
        |  JOIN embeddings qe ON qe.vec_id = p.q_id
        |  JOIN embeddings ce ON ce.vec_id = a.id
        |  WHERE a.id <> p.q_id)
        |SELECT q_id, rank, id, cos FROM (
        |  SELECT q_id, id, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, id) AS BIGINT) AS rank
        |  FROM scored)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    // identical cluster set to q13 — the operator under test is the
    // distributed-dictionary FLAGSHIP (Pipeline.runJoined), not a new
    // clustering semantics
    "q36_er_clusters_joined" ->
      s"""WITH ${QueryLib.allMentionsSql}
         |SELECT printf('%s:%06d:%06d', conv_id, turn_idx, bpos) AS mention_id,
         |       min(printf('%s:%06d:%06d', conv_id, turn_idx, bpos)) OVER (PARTITION BY bg) AS cluster_id,
         |       bg
         |FROM allm ORDER BY mention_id""".stripMargin,

    // Full SQL re-derivation of the persisted sign-LSH index path: the
    // integer hyperplane dot (md5-derived 20-bit components × 20-bit
    // fixed-point embedding, exact int64 — see Ann.bandSignature), the
    // per-band sign-bucket signature, the Hamming-1 multi-probe set,
    // the bucket equi-join candidate filter, and the cosine top-5
    // rerank with (cos DESC, id ASC) ties — bit-identical to
    // Ann.lshTopKIndexed by construction
    "q37_ann_lsh_indexed" ->
      """WITH hp AS (
        |  SELECT b.band, r.r, i.i,
        |    CAST(('0x' || substr(md5('hp' || b.band || '_' || r.r || '_' || i.i), 1, 5)) AS BIGINT) - 524288 AS h
        |  FROM range(8) b(band), range(8) r(r), range(64) i(i)),
        |ev AS (
        |  SELECT vec_id AS id, i.i,
        |    CAST(floor(CAST(embedding[CAST(i.i AS INT) + 1] AS DOUBLE) * 1048576) AS BIGINT) AS e
        |  FROM embeddings, range(64) i(i)),
        |dots AS (
        |  SELECT ev.id, hp.band, hp.r, sum(hp.h * ev.e) AS dot
        |  FROM ev JOIN hp ON ev.i = hp.i
        |  GROUP BY 1, 2, 3),
        |sig AS (
        |  SELECT id, band,
        |    CAST(sum(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) << CAST(r AS INT) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM dots GROUP BY 1, 2),
        |probes AS (
        |  SELECT id AS q_id, band, bucket FROM sig WHERE id < 10
        |  UNION
        |  SELECT s.id, s.band, xor(s.bucket, CAST(1 AS BIGINT) << CAST(r.r AS INT))
        |  FROM sig s, range(8) r(r) WHERE s.id < 10),
        |cand AS (
        |  SELECT DISTINCT p.q_id, s.id
        |  FROM probes p JOIN sig s ON p.band = s.band AND p.bucket = s.bucket
        |  WHERE s.id <> p.q_id),
        |scored AS (
        |  SELECT c.q_id, c.id,
        |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(e2.embedding AS DOUBLE[])), 5) AS cos
        |  FROM cand c JOIN embeddings e2 ON e2.vec_id = c.id
        |              JOIN embeddings q ON q.vec_id = c.q_id)
        |SELECT q_id, rank, id, cos FROM (
        |  SELECT q_id, id, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, id) AS BIGINT) AS rank
        |  FROM scored)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    // DuckDB's NATIVE ASOF JOIN — an independent implementation of the
    // same nearest-prior semantics as AsOfJoin.lastPrior's union+window
    "q38_asof_join" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, ts, min(event_id) AS signup_id,
        |             round(min_by("value", event_id), 4) AS signup_value
        |      FROM events WHERE event_type = 'signup' GROUP BY user_id, ts)
        |SELECT l.event_id, l.user_id, r.signup_id, r.signup_value
        |FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin,

    "q39_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |       coalesce(l_linestatus, 'ALL') AS ls,
        |       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_qty,
        |       count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,

    "q40_window_frames" ->
      """SELECT event_id, user_id, mov_avg_4, run_max, prev_value FROM (
        |  SELECT event_id, user_id,
        |    round(avg("value") OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS mov_avg_4,
        |    round(max("value") OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS run_max,
        |    round(lag("value", 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) AS prev_value
        |  FROM events)
        |WHERE prev_value IS NOT NULL ORDER BY event_id""".stripMargin,

    "q41_json_extract" ->
      """SELECT k % 10 AS k_bucket, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k FROM (
        |  SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k FROM events)
        |GROUP BY k_bucket ORDER BY k_bucket""".stripMargin,

    // theta-join oracle for the bucketized range join; floor(epoch(ts))
    // reproduces Spark's truncating timestamp→long cast at the boundary
    "q42_range_join" ->
      """SELECT a.user_id AS user_id, a.event_id AS a_event_id,
        |       b.event_id AS b_event_id,
        |       CAST(floor(epoch(b.ts)) - floor(epoch(a.ts)) AS BIGINT) AS delta_s
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        | AND abs(floor(epoch(a.ts)) - floor(epoch(b.ts))) <= 600
        |ORDER BY user_id, a_event_id, b_event_id""".stripMargin,

    // plain-join oracle for the co-bucketed join — the operator under
    // test is the exchange-free physical layout, values are standard SQL
    "q43_bucketed_join" ->
      """WITH dim AS (
        |  SELECT user_id, count(*) AS n_purchase,
        |         round(CAST(sum(CAST("value" AS DECIMAL(18,6))) AS DOUBLE), 4) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT e.event_id, e.user_id, d.n_purchase, d.purchase_value
        |FROM events e JOIN dim d ON e.user_id = d.user_id
        |ORDER BY e.event_id""".stripMargin,

    "q44_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click')    AS click,
        |  count(*) FILTER (WHERE event_type = 'error')    AS error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup')   AS signup,
        |  count(*) FILTER (WHERE event_type = 'view')     AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // md5-cell split boundaries: cum .75 → 192/256 = 'c0', cum .875 →
    // 224/256 = 'e0' (Sampling.bound); md5-of-string and string compare
    // are engine-identical
    "q45_hash_split" ->
      """SELECT split, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars FROM (
        |  SELECT n_chars,
        |         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'c0' THEN 'train'
        |              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e0' THEN 'valid'
        |              ELSE 'test' END AS split
        |  FROM documents)
        |GROUP BY split ORDER BY split""".stripMargin,

    "q46_date_trunc" ->
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n,
        |       count(DISTINCT extract(hour FROM ts)) AS active_hours
        |FROM events GROUP BY day ORDER BY day""".stripMargin,

    // identical cluster set to q13 — the operator under test is O(delta)
    // incremental maintenance (Pipeline.runIncremental), which must
    // reproduce the from-scratch clustering
    "q48_er_clusters_incremental" ->
      s"""WITH ${QueryLib.allMentionsSql}
         |SELECT printf('%s:%06d:%06d', conv_id, turn_idx, bpos) AS mention_id,
         |       min(printf('%s:%06d:%06d', conv_id, turn_idx, bpos)) OVER (PARTITION BY bg) AS cluster_id,
         |       bg
         |FROM allm ORDER BY mention_id""".stripMargin,

    // per-class md5-cell bounds: en 0.5 → 128/256 = '80', zh 0.25 → 64/256
    // = '40', default 1.0 → 'g' (sorts above every 2-hex-char cell)
    "q47_stratified_sample" ->
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars FROM (
        |  SELECT lang, n_chars,
        |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS cell
        |  FROM documents)
        |WHERE cell < CASE lang WHEN 'en' THEN '80' WHEN 'zh' THEN '40' ELSE 'g' END
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // identical rows to the parquet-derived transcript table — the
    // operator under test is JSONL ingestion fidelity, not new transform
    // semantics
    "q49_jsonl_ingest" ->
      s"""WITH ${QueryLib.transcriptsSql}
         |SELECT conv_id, turn_idx, role, text
         |FROM tr ORDER BY conv_id, turn_idx""".stripMargin,

    // exact positional-n-gram re-derivation of the decontamination flag:
    // 4-token grams of lowercased [a-z0-9]+ tokens, benchmark = doc_id %
    // 20 == 0, a corpus doc is flagged iff it shares >=1 gram
    "q50_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |         unnest([array_to_string(t[i:i+3], ' ')
        |                 FOR i IN generate_series(1, len(t) - 3)]) AS g
        |  FROM toks WHERE len(t) >= 4),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0),
        |hits AS (
        |  SELECT DISTINCT c.doc_id, c.g
        |  FROM grams c JOIN bench b USING (g)
        |  WHERE c.doc_id % 20 <> 0)
        |SELECT doc_id, count(*) AS n_hit_grams, min(g) AS first_gram
        |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // identical plant + identical regex chain, counts taken on the text
    // as each class sees it (after the previous classes' replacements)
    "q51_pii_redact" ->
      """WITH p AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' ELSE '' END AS t0
        |  FROM documents),
        |s1 AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1 FROM p),
        |s2 AS (SELECT doc_id, n_email,
        |  CAST(len(regexp_extract_all(t1, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phone,
        |  regexp_replace(t1, '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS t2 FROM s1),
        |s3 AS (SELECT doc_id, n_email, n_phone,
        |  CAST(len(regexp_extract_all(t2, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
        |  regexp_replace(t2, '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g') AS t3 FROM s2),
        |s4 AS (SELECT doc_id, n_email, n_phone, n_ssn,
        |  CAST(len(regexp_extract_all(t3, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
        |  regexp_replace(t3, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t4 FROM s3)
        |SELECT doc_id, n_email, n_phone, n_ssn, n_ipv4, md5(t4) AS redacted_sig
        |FROM s4 ORDER BY doc_id""".stripMargin,

    "q52_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |       coalesce(l_linestatus, 'ALL') AS ls,
        |       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_qty,
        |       count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,

    "q53_set_ops" ->
      """SELECT 'click_and_buy' AS set_op, user_id FROM (
        |  SELECT user_id FROM events WHERE event_type = 'click'
        |  INTERSECT
        |  SELECT user_id FROM events WHERE event_type = 'purchase')
        |UNION ALL
        |SELECT 'click_no_buy' AS set_op, user_id FROM (
        |  SELECT user_id FROM events WHERE event_type = 'click'
        |  EXCEPT
        |  SELECT user_id FROM events WHERE event_type = 'purchase')
        |ORDER BY set_op, user_id""".stripMargin,

    // exact re-derivation of the bucketed packing: bpe-ish token count,
    // ceil length band, md5 shard, per-(bucket,shard) id-ordered row
    // number, capacity floor(128/(bucket*16))
    "q54_seq_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS tok_len
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, tok_len,
        |    CAST(ceil(tok_len / 16.0) AS BIGINT) AS bucket,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard
        |  FROM t WHERE tok_len BETWEEN 1 AND 128),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY bucket, shard ORDER BY doc_id) - 1 AS rn,
        |    CAST(greatest(floor(128.0 / (bucket * 16)), 1) AS BIGINT) AS cap
        |  FROM b)
        |SELECT doc_id, tok_len,
        |  'b' || bucket || ':s' || shard || ':' || CAST(floor(rn / cap) AS BIGINT) AS bin_key
        |FROM r ORDER BY doc_id""".stripMargin,

    // q13's clustering re-derived over the corpus MINUS the retracted
    // conversations (conv_id >= 'src5', i.e. src5..src9 — src1x sorts
    // below 'src5') — the min-window runs AFTER the filter, so cluster
    // ids re-min over the survivors exactly as the retraction must
    "q55_er_clusters_retract" ->
      s"""WITH ${QueryLib.allMentionsSql},
         |rem AS (SELECT * FROM allm WHERE conv_id < 'src5')
         |SELECT printf('%s:%06d:%06d', conv_id, turn_idx, bpos) AS mention_id,
         |       min(printf('%s:%06d:%06d', conv_id, turn_idx, bpos)) OVER (PARTITION BY bg) AS cluster_id,
         |       bg
         |FROM rem ORDER BY mention_id""".stripMargin,

    // q20's exact near-dup pair set → recursive-CTE connected components
    // (q17's technique, numeric ids) → per-group keep pick: longest text,
    // then min doc_id
    "q56_neardup_canonical" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text),'[a-z0-9]+')) AS tok,
        |         generate_subscripts(regexp_extract_all(lower(text),'[a-z0-9]+'),1) AS pos
        |  FROM documents),
        |sh AS (
        |  SELECT a.doc_id, list_distinct(list(a.tok || ' ' || b.tok || ' ' || c.tok)) AS s
        |  FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |           JOIN t c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
        |  GROUP BY a.doc_id),
        |e0 AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(len(list_intersect(a.s, b.s)) * 1.0 /
        |              (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) >= 0.6),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |r AS (
        |  SELECT src AS node, src AS reach FROM e
        |  UNION
        |  SELECT e.dst AS node, r.reach FROM r JOIN e ON e.src = r.node),
        |cc AS (SELECT node, min(reach) AS gid FROM r GROUP BY node),
        |g AS (
        |  SELECT d.doc_id, CAST(len(d.text) AS BIGINT) AS n_chars,
        |         coalesce(cc.gid, d.doc_id) AS group_id
        |  FROM documents d LEFT JOIN cc ON cc.node = d.doc_id)
        |SELECT doc_id, group_id,
        |       count(*) OVER (PARTITION BY group_id) AS group_size,
        |       n_chars,
        |       row_number() OVER (PARTITION BY group_id
        |                          ORDER BY n_chars DESC, doc_id) = 1 AS keep
        |FROM g ORDER BY doc_id""".stripMargin,

    // exact positional re-derivation of the duplicate-span coverage: a
    // position is covered when a 3-gram starting at one of the 3 grams
    // overlapping it occurs in >= 2 distinct docs
    "q57_dup_spans" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text),'[a-z0-9]+')) AS tok,
        |         generate_subscripts(regexp_extract_all(lower(text),'[a-z0-9]+'),1) AS pos
        |  FROM documents),
        |g AS (
        |  SELECT a.doc_id, a.pos, a.tok || ' ' || b.tok || ' ' || c.tok AS gram
        |  FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |           JOIN t c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
        |dg AS (
        |  SELECT gram FROM (SELECT gram, count(DISTINCT doc_id) AS nd
        |                    FROM g GROUP BY 1) WHERE nd >= 2),
        |cov AS (
        |  SELECT DISTINCT g.doc_id, g.pos + o.o AS cp
        |  FROM g JOIN dg USING (gram), (SELECT unnest(range(3)) AS o) o),
        |c AS (SELECT doc_id, count(*) AS n_dup_positions FROM cov GROUP BY 1),
        |nt AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_extract_all(lower(text),'[a-z0-9]+')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT nt.doc_id, nt.n_tokens,
        |       CAST(coalesce(c.n_dup_positions, 0) AS BIGINT) AS n_dup_positions,
        |       round(CASE WHEN nt.n_tokens > 0
        |                  THEN coalesce(c.n_dup_positions, 0) * 1.0 / nt.n_tokens
        |                  ELSE 0.0 END, 4) AS dup_ratio
        |FROM nt LEFT JOIN c USING (doc_id) ORDER BY nt.doc_id""".stripMargin,

    // per-doc top-unigram / top-bigram share and distinct-token ratio
    "q58_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text),'[a-z0-9]+')) AS tok,
        |         generate_subscripts(regexp_extract_all(lower(text),'[a-z0-9]+'),1) AS pos
        |  FROM documents),
        |uc AS (SELECT doc_id, tok, count(*) AS n FROM t GROUP BY 1, 2),
        |u AS (SELECT doc_id, max(n) AS mx, sum(n) AS tot FROM uc GROUP BY 1),
        |bg AS (
        |  SELECT a.doc_id, a.tok || ' ' || b.tok AS big
        |  FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        |bc AS (SELECT doc_id, big, count(*) AS n FROM bg GROUP BY 1, 2),
        |b AS (SELECT doc_id, max(n) AS mx, sum(n) AS tot FROM bc GROUP BY 1),
        |dr AS (SELECT doc_id, count(DISTINCT tok) AS d, count(*) AS tot FROM t GROUP BY 1)
        |SELECT d.doc_id,
        |       round(coalesce(u.mx * 1.0 / u.tot, 0.0), 4) AS top_unigram_share,
        |       round(coalesce(b.mx * 1.0 / b.tot, 0.0), 4) AS top_bigram_share,
        |       round(coalesce(dr.d * 1.0 / dr.tot, 0.0), 4) AS distinct_ratio
        |FROM documents d
        |LEFT JOIN u USING (doc_id) LEFT JOIN b USING (doc_id)
        |LEFT JOIN dr USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q60_tfidf" ->
      """WITH t AS (
        |  SELECT doc_id AS id,
        |         unnest(regexp_extract_all(lower(text),'[a-z0-9]+')) AS term
        |  FROM documents),
        |tf AS (SELECT id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |s AS (
        |  SELECT tf.id, tf.term, tf.tf, dfq.df,
        |         round(tf.tf * (ln((n.n_docs + 1.0) / (dfq.df + 1.0)) + 1.0), 6) AS tfidf
        |  FROM tf JOIN dfq USING (term) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY id ORDER BY tfidf DESC, term ASC) AS rank FROM s)
        |SELECT id AS doc_id, term, tf, df, tfidf, rank
        |FROM r WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    "q61_profile" ->
      """SELECT * FROM (
        |  SELECT 'doc_id' AS col_name, count(*) AS n,
        |         CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |         count(DISTINCT doc_id) AS n_distinct,
        |         cast(min(doc_id) AS varchar) AS min_v,
        |         cast(max(doc_id) AS varchar) AS max_v,
        |         round(avg(doc_id), 6) AS mean,
        |         round(quantile_cont(doc_id, 0.5), 6) AS p50
        |  FROM documents
        |  UNION ALL
        |  SELECT 'lang', count(*),
        |         CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         count(DISTINCT lang),
        |         cast(min(lang) AS varchar), cast(max(lang) AS varchar),
        |         NULL, NULL
        |  FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', count(*),
        |         CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         count(DISTINCT n_chars),
        |         cast(min(n_chars) AS varchar), cast(max(n_chars) AS varchar),
        |         round(avg(n_chars), 6), round(quantile_cont(n_chars, 0.5), 6)
        |  FROM documents)
        |ORDER BY col_name""".stripMargin,

    // compaction is a physical rewrite: the logical result is q48's
    "q59_compacted_increment" ->
      s"""WITH ${QueryLib.allMentionsSql}
         |SELECT printf('%s:%06d:%06d', conv_id, turn_idx, bpos) AS mention_id,
         |       min(printf('%s:%06d:%06d', conv_id, turn_idx, bpos)) OVER (PARTITION BY bg) AS cluster_id,
         |       bg
         |FROM allm ORDER BY mention_id""".stripMargin,

    "q62_boilerplate_catalog" ->
      s"""WITH ${QueryLib.transcriptsSql},
         |k AS (
         |  SELECT conv_id, turn_idx,
         |         array_to_string(list_slice(regexp_extract_all(lower(text), '[a-z0-9]+'), 1, 2), ' ') AS prefix
         |  FROM tr)
         |SELECT prefix, count(DISTINCT conv_id) AS n_convs, count(*) AS n_turns
         |FROM k GROUP BY prefix HAVING count(DISTINCT conv_id) >= 3
         |ORDER BY prefix""".stripMargin,

    "q63_boilerplate_clean" ->
      s"""WITH ${QueryLib.transcriptsSql},
         |k AS (
         |  SELECT conv_id, turn_idx,
         |         array_to_string(list_slice(regexp_extract_all(lower(text), '[a-z0-9]+'), 1, 2), ' ') AS prefix
         |  FROM tr),
         |cat AS (
         |  SELECT prefix FROM k GROUP BY prefix
         |  HAVING count(DISTINCT conv_id) >= 3)
         |SELECT conv_id, turn_idx FROM k
         |WHERE prefix NOT IN (SELECT prefix FROM cat)
         |ORDER BY conv_id, turn_idx""".stripMargin,

    "q64_snapshot_diff" ->
      """WITH o AS (
        |  SELECT doc_id AS id, coalesce(md5(text), 'null-text') AS old_sig
        |  FROM documents WHERE doc_id % 10 <> 0),
        |n AS (
        |  SELECT doc_id AS id,
        |         coalesce(md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END), 'null-text') AS new_sig
        |  FROM documents WHERE doc_id % 7 <> 0)
        |SELECT COALESCE(o.id, n.id) AS id,
        |       CASE WHEN o.old_sig IS NULL THEN 'added'
        |            WHEN n.new_sig IS NULL THEN 'removed'
        |            ELSE 'changed' END AS status,
        |       o.old_sig AS old_sig, n.new_sig AS new_sig
        |FROM o FULL OUTER JOIN n ON o.id = n.id
        |WHERE o.old_sig IS NULL OR n.new_sig IS NULL OR o.old_sig <> n.new_sig
        |ORDER BY id""".stripMargin,

    // q20's exact all-pairs Jaccard restricted to pairs touching the
    // delta (doc_id%5=0) — the incremental operator's banding has the
    // same P(miss) <= 1e-4 guarantee, so both sides are the same set.
    "q65_neardup_delta" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text),'[a-z0-9]+')) AS tok,
        |         generate_subscripts(regexp_extract_all(lower(text),'[a-z0-9]+'),1) AS pos
        |  FROM documents),
        |sh AS (
        |  SELECT a.doc_id, list_distinct(list(a.tok || ' ' || b.tok || ' ' || c.tok)) AS s
        |  FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |           JOIN t c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
        |  GROUP BY a.doc_id)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       round(len(list_intersect(a.s, b.s)) * 1.0 /
        |             (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE (a.doc_id % 5 = 0 OR b.doc_id % 5 = 0)
        |  AND round(len(list_intersect(a.s, b.s)) * 1.0 /
        |            (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) >= 0.6
        |ORDER BY a_id, b_id""".stripMargin,

    // Closed-form mixture replay: per-source token totals -> keep
    // fraction quantized to the 16^6-cell grid -> the q45 md5-cell
    // predicate at 6 hex chars; null-safe class join.
    "q66_token_mixture" ->
      """WITH tk AS (
        |  SELECT doc_id, source,
        |         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tok
        |  FROM documents),
        |fr AS (
        |  SELECT source,
        |         CAST(round(least(1.0, 1000.0 / sum(n_tok)) * 16777216) AS INT) AS cells
        |  FROM tk GROUP BY source)
        |SELECT t.doc_id, t.source
        |FROM tk t JOIN fr ON t.source IS NOT DISTINCT FROM fr.source
        |WHERE substr(md5(t.doc_id::VARCHAR), 1, 6) <
        |      CASE WHEN fr.cells >= 16777216 THEN 'g' ELSE printf('%06x', fr.cells) END
        |ORDER BY doc_id""".stripMargin,

    // Blocking-quality triple over closed-form pair counts: per-block
    // C(n,2) sums (candidates never materialized), gold = q20's exact
    // Jaccard pair set, coverage = gold pairs whose sides share the key.
    "q67_blocking_quality" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text),'[a-z0-9]+')) AS tok,
        |         generate_subscripts(regexp_extract_all(lower(text),'[a-z0-9]+'),1) AS pos
        |  FROM documents),
        |sh AS (
        |  SELECT a.doc_id, list_distinct(list(a.tok || ' ' || b.tok || ' ' || c.tok)) AS s
        |  FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |           JOIN t c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
        |  GROUP BY a.doc_id),
        |gold AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(len(list_intersect(a.s, b.s)) * 1.0 /
        |              (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) >= 0.6),
        |k AS (
        |  SELECT doc_id,
        |         array_to_string(list_slice(regexp_extract_all(lower(text), '[a-z0-9]+'), 1, 2), ' ') AS bkey
        |  FROM documents),
        |pb AS (SELECT bkey, count(*) AS n FROM k GROUP BY bkey),
        |agg1 AS (SELECT coalesce(sum(n * (n - 1) / 2), 0.0) AS n_cand_pairs,
        |                count(*) AS n_blocks FROM pb),
        |tot AS (SELECT count(*) AS n_items,
        |               count(*) * (count(*) - 1) / 2 AS n_all_pairs FROM k),
        |cov AS (
        |  SELECT count(*) AS n_gold,
        |         count(CASE WHEN ka.bkey = kb.bkey THEN 1 END) AS n_gold_covered
        |  FROM gold g JOIN k ka ON g.a_id = ka.doc_id
        |              JOIN k kb ON g.b_id = kb.doc_id)
        |SELECT n_items, n_blocks, n_cand_pairs, n_all_pairs, n_gold, n_gold_covered,
        |       round(1.0 - n_cand_pairs / n_all_pairs, 6) AS reduction_ratio,
        |       round(CASE WHEN n_gold > 0 THEN n_gold_covered * 1.0 / n_gold
        |                  ELSE 0.0 END, 6) AS pair_completeness,
        |       round(CASE WHEN n_cand_pairs > 0 THEN n_gold_covered / n_cand_pairs
        |                  ELSE 0.0 END, 6) AS pairs_quality
        |FROM tot, agg1, cov""".stripMargin,

    // The whole curation chain replayed stage by stage: dedup reps →
    // benchmark 3-gram contamination → the q51 redaction chain → token
    // quality gate → the q66 mixture predicate → the q54 packing layout.
    "q68_curation" ->
      """WITH corpus0 AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
        |bench AS (SELECT * FROM documents WHERE doc_id % 97 = 0),
        |rep AS (SELECT min(doc_id) AS doc_id FROM corpus0 GROUP BY md5(text)),
        |dd AS (SELECT c.* FROM corpus0 c JOIN rep USING (doc_id)),
        |btok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text),'[a-z0-9]+')) AS tok,
        |         generate_subscripts(regexp_extract_all(lower(text),'[a-z0-9]+'),1) AS pos
        |  FROM bench),
        |bg3 AS (
        |  SELECT DISTINCT a.tok || ' ' || b.tok || ' ' || c.tok AS gram
        |  FROM btok a JOIN btok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |              JOIN btok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
        |ctok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text),'[a-z0-9]+')) AS tok,
        |         generate_subscripts(regexp_extract_all(lower(text),'[a-z0-9]+'),1) AS pos
        |  FROM dd),
        |cg3 AS (
        |  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS gram
        |  FROM ctok a JOIN ctok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |              JOIN ctok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
        |contam AS (SELECT DISTINCT doc_id FROM cg3 JOIN bg3 USING (gram)),
        |keep1 AS (SELECT * FROM dd WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
        |red AS (SELECT doc_id, source,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
        |    '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS rt
        |  FROM keep1),
        |q AS (SELECT doc_id, source, rt,
        |        len(regexp_extract_all(lower(rt),'[a-z0-9]+')) AS n_tok,
        |        len(list_distinct(regexp_extract_all(lower(rt),'[a-z0-9]+'))) AS n_dtok
        |      FROM red),
        |keep2 AS (SELECT * FROM q WHERE n_tok >= 5 AND
        |          (CASE WHEN n_tok > 0 THEN n_dtok / n_tok ELSE 0.0 END) >= 0.3),
        |fr AS (SELECT source,
        |         CAST(round(least(1.0, 800.0 / sum(n_tok)) * 16777216) AS INT) AS cells
        |       FROM keep2 GROUP BY source),
        |keep3 AS (
        |  SELECT k.* FROM keep2 k JOIN fr ON k.source IS NOT DISTINCT FROM fr.source
        |  WHERE substr(md5(k.doc_id::VARCHAR), 1, 6) <
        |        CASE WHEN fr.cells >= 16777216 THEN 'g' ELSE printf('%06x', fr.cells) END),
        |t AS (SELECT doc_id, source,
        |  CAST(len(regexp_extract_all(lower(rt), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS tok_len
        |  FROM keep3),
        |b AS (SELECT doc_id, source, tok_len,
        |  CAST(ceil(tok_len / 16.0) AS BIGINT) AS bucket,
        |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard
        |  FROM t WHERE tok_len BETWEEN 1 AND 128),
        |r AS (SELECT *, row_number() OVER (PARTITION BY bucket, shard ORDER BY doc_id) - 1 AS rn,
        |  CAST(greatest(floor(128.0 / (bucket * 16)), 1) AS BIGINT) AS cap FROM b)
        |SELECT doc_id, source, tok_len,
        |  'b' || bucket || ':s' || shard || ':' || CAST(floor(rn / cap) AS BIGINT) AS bin_key
        |FROM r ORDER BY doc_id""".stripMargin,

    // q17's recursive-CTE components with the must-link pairs unioned
    // into e0 before closure.
    "q69_constrained_components" ->
      s"""WITH RECURSIVE $transcriptsSql,
         |d AS (SELECT doc_id, conv_id, turn_idx,
         |             list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS ts
         |      FROM tr),
         |e0 AS (
         |  SELECT printf('%06d', a.doc_id) AS src, printf('%06d', b.doc_id) AS dst
         |  FROM d a JOIN d b ON a.conv_id = b.conv_id
         |    AND b.turn_idx > a.turn_idx AND b.turn_idx <= a.turn_idx + 3
         |  WHERE round(len(list_intersect(a.ts, b.ts)) * 1.0 /
         |              (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))), 4) >= 0.75
         |  UNION
         |  SELECT printf('%06d', a.doc_id) AS src, printf('%06d', b.doc_id) AS dst
         |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 250
         |  WHERE a.doc_id % 50 = 0),
         |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |n AS (SELECT DISTINCT src AS node FROM e),
         |r AS (
         |  SELECT node, node AS reach FROM n
         |  UNION
         |  SELECT e.dst AS node, r.reach FROM r JOIN e ON e.src = r.node)
         |SELECT node, min(reach) AS cluster_id FROM r GROUP BY node ORDER BY node""".stripMargin,

    // Components over the unmodified edge graph; constraints = even-src
    // edges (planted violations) ∪ far-apart pairs (non-violations);
    // emit pairs whose sides share a cluster.
    "q70_constraint_violations" ->
      s"""WITH RECURSIVE $transcriptsSql,
         |d AS (SELECT doc_id, conv_id, turn_idx,
         |             list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS ts
         |      FROM tr),
         |e0 AS (
         |  SELECT printf('%06d', a.doc_id) AS src, printf('%06d', b.doc_id) AS dst
         |  FROM d a JOIN d b ON a.conv_id = b.conv_id
         |    AND b.turn_idx > a.turn_idx AND b.turn_idx <= a.turn_idx + 3
         |  WHERE round(len(list_intersect(a.ts, b.ts)) * 1.0 /
         |              (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))), 4) >= 0.75),
         |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |n AS (SELECT DISTINCT src AS node FROM e),
         |r AS (
         |  SELECT node, node AS reach FROM n
         |  UNION
         |  SELECT e.dst AS node, r.reach FROM r JOIN e ON e.src = r.node),
         |assign AS (SELECT node, min(reach) AS cluster_id FROM r GROUP BY node),
         |far AS (
         |  SELECT printf('%06d', a.doc_id) AS src, printf('%06d', b.doc_id) AS dst
         |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 111
         |  WHERE a.doc_id % 37 = 0),
         |cl0 AS (SELECT src, dst FROM e0 WHERE CAST(src AS BIGINT) % 2 = 0
         |        UNION ALL SELECT src, dst FROM far),
         |cln AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM cl0)
         |SELECT c.a, c.b, x.cluster_id
         |FROM cln c JOIN assign x ON x.node = c.a
         |           JOIN assign y ON y.node = c.b
         |WHERE x.cluster_id = y.cluster_id
         |ORDER BY a, b""".stripMargin,

    // The five scoring features + blend replayed relationally: the
    // prior-overlap lambda becomes max(CASE shared THEN least(pa,pb))
    // (the CASE guard matters — least() skips NULLs in both engines,
    // the exact trap the Spark fix documents).
    "q71_score_explain" ->
      """WITH tc AS (
        |  SELECT doc_id, tok, count(*) AS cnt FROM (
        |    SELECT doc_id, unnest(regexp_extract_all(lower(text),'[a-z0-9]+')) AS tok
        |    FROM documents) GROUP BY doc_id, tok),
        |pr AS (
        |  SELECT doc_id, tok, rk,
        |         cnt * 1.0 / sum(cnt) OVER (PARTITION BY doc_id) AS prior
        |  FROM (SELECT doc_id, tok, cnt,
        |          row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, tok) AS rk
        |        FROM tc)
        |  WHERE rk <= 3),
        |nm AS (
        |  SELECT doc_id,
        |         array_to_string(list_slice(regexp_extract_all(lower(text),'[a-z0-9]+'), 1, 2), ' ') AS norm
        |  FROM documents),
        |res AS (SELECT doc_id, tok AS resolved, prior AS rscore FROM pr WHERE rk = 1),
        |m AS (SELECT n.doc_id, n.norm, r.resolved, r.rscore, e.embedding AS ctx
        |      FROM nm n JOIN res r ON r.doc_id = n.doc_id
        |                JOIN embeddings e ON e.vec_id = n.doc_id),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |             a.norm AS na, b.norm AS nb, a.resolved AS ra, b.resolved AS rb,
        |             a.rscore AS sa, b.rscore AS sb, a.ctx AS ca, b.ctx AS cb
        |      FROM m a JOIN m b ON b.doc_id = a.doc_id + 1),
        |ov AS (SELECT p.a_id,
        |              max(CASE WHEN pb.tok IS NOT NULL
        |                       THEN least(pa.prior, pb.prior) END) AS mx
        |       FROM p JOIN pr pa ON pa.doc_id = p.a_id
        |              LEFT JOIN pr pb ON pb.doc_id = p.b_id AND pb.tok = pa.tok
        |       GROUP BY p.a_id),
        |f AS (SELECT p.*,
        |        jaro_winkler_similarity(na, nb) AS jw,
        |        CASE WHEN greatest(len(na), len(nb)) > 0
        |             THEN 1.0 - levenshtein(na, nb) * 1.0 / greatest(len(na), len(nb))
        |             ELSE 1.0 END AS lev,
        |        list_cosine_similarity(CAST(ca AS DOUBLE[]), CAST(cb AS DOUBLE[])) AS cos,
        |        coalesce(o.mx, 0.0) AS pov,
        |        CASE WHEN ra <> '' AND ra = rb AND sa >= 0.02 AND sb >= 0.02
        |             THEN 1.0 ELSE 0.0 END AS agree
        |      FROM p LEFT JOIN ov o ON o.a_id = p.a_id)
        |SELECT a_id, b_id, round(jw, 5) AS f_jw, round(lev, 5) AS f_lev,
        |       round(cos, 5) AS f_cos, round(pov, 5) AS f_prior, agree AS f_agree,
        |       round(0.15*jw + 0.05*lev + 0.15*cos + 0.15*pov + 0.5*agree, 5) AS score
        |FROM f ORDER BY a_id""".stripMargin,

    // Sample = the q45 md5-cell predicate (frac 0.1 -> bound '1a');
    // pairwise Jaccard via q20's shingle CTEs, rounded 4dp BEFORE pow so
    // both engines exponentiate identical inputs.
    "q72_banding_plan" ->
      """WITH sd AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE substr(md5(doc_id::VARCHAR || 'plan'), 1, 2) < '1a'),
        |t AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text),'[a-z0-9]+')) AS tok,
        |         generate_subscripts(regexp_extract_all(lower(text),'[a-z0-9]+'),1) AS pos
        |  FROM sd),
        |sh AS (
        |  SELECT a.doc_id, list_distinct(list(a.tok || ' ' || b.tok || ' ' || c.tok)) AS s
        |  FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |           JOIN t c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
        |  GROUP BY a.doc_id),
        |pj AS (
        |  SELECT round(len(list_intersect(a.s, b.s)) * 1.0 /
        |               (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS j
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |bandings AS (SELECT * FROM (VALUES (16, 8), (8, 16), (4, 32), (2, 64), (1, 128))
        |             AS v(r, b))
        |SELECT v.r AS band_rows, v.b AS bands,
        |       round(1 - power(1 - power(0.6, v.r), v.b), 6) AS recall_at_t,
        |       round(avg(1 - power(1 - power(pj.j, v.r), v.b)), 6) AS exp_cand_rate,
        |       count(*) AS n_sample_pairs
        |FROM bandings v CROSS JOIN pj
        |GROUP BY v.r, v.b
        |ORDER BY band_rows DESC""".stripMargin,
  )
}
