package graft.ops

import org.apache.spark.sql.functions._

/** Dedup-family perf harness: times each strategy (min-of-2) at an
  * arbitrary SF and cross-checks prefix==brute and clusters==union-find
  * at that SF — the sf0.1-scale complement to the sf0.001 spec
  * assertions. Run: `runMain graft.ops.Prof /root/testdata/sf0.1`.
  * A second mode profiles the corpus-statistics family instead:
  * `runMain graft.ops.Prof <dir> corpus`; a third the chunking /
  * packing / profile family: `runMain graft.ops.Prof <dir> chunkprof`.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val spark = graft.engine.Sessions.local()
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val corpusOnly = args.lift(1).contains("corpus")
    val chunkProf = args.lift(1).contains("chunkprof")
    // ScaleGen dirs carry only documents/embeddings — warm what exists
    graft.engine.Tables.names
      .filter(n => java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir/$n.parquet")))
      .foreach(n => graft.engine.Tables.table(spark, dir, n).count())
    val docs = graft.engine.Tables.table(spark, dir, "documents")
    val emb = graft.engine.Tables.table(spark, dir, "embeddings")

    def q(name: String)(f: => Long): Unit = {
      def once = { val t0 = System.nanoTime; f; (System.nanoTime - t0) / 1e9 }
      val t = math.min(once, once)
      println(f"PROF $name $t%.2f s")
    }
    if (chunkProf) {
      // chunking / packing / numeric-profile family: chunking is
      // explode-shaped (output rows ~ token windows), packing a
      // per-shard running-sum window, the profiles one-pass
      // aggregations. The profile queries are driven by collect(), not
      // count() — count() lets Catalyst prune a grouping-less
      // aggregate's functions and would time a hollow plan.
      q("chunk_docs")(Chunking.chunkDocs(docs).count())
      q("pack_sequences")(Chunking.packSequences(docs, "source").count())
      q("column_profile")(
        Profile.columnProfile(docs, Seq("n_chars", "doc_id")).collect().length.toLong)
      q("quantiles")(Profile.quantiles(docs, Seq("n_chars")).collect().length.toLong)
      q("sketch_check")(Profile.sketchCheck(docs, Seq("n_chars")).collect().length.toLong)
      q("winsorize")(
        Profile.winsorizeReport(docs, "n_chars").collect().length.toLong)
      q("histogram")(
        Profile.histogram(docs, "n_chars", 0.0, 50.0).collect().length.toLong)
      spark.stop()
      return
    }
    if (args.lift(1).contains("classify")) {
      // label-propagation family: exact is O(corpus · seed) with the
      // seed fixed (250), so the scale column should track corpus
      // size; the IVF form scores seed·nProbe/nCells per vector
      q("knn_classify")(Similarity.knnClassify(emb).count())
      // clear the quantizer memo inside the thunk (the minhash
      // clearPairCache pattern): min-of-2 must time the BUILD
      // including the KMeans fit, not a memo hit
      q("knn_classify_ivf") {
        Similarity.clearQuantizerCache()
        Similarity.knnClassifyIvf(emb).count()
      }
      // warm-vs-cold splits the memoized KMeans fit out of the query
      // cost; the _check pair times the bench's all-cells exactness
      // gate (nProbe == nCells) the driver actually runs
      q("knn_classify_ivf_warm")(Similarity.knnClassifyIvf(emb).count())
      q("knn_classify_ivf_check_cold") {
        Similarity.clearQuantizerCache()
        Similarity.knnClassifyIvf(emb, nCells = 16, nProbe = 16).count()
      }
      q("knn_classify_ivf_check_warm")(
        Similarity.knnClassifyIvf(emb, nCells = 16, nProbe = 16).count())
      spark.stop()
      return
    }
    if (args.lift(1).contains("probes")) {
      // r18 verdict item 4: audit the Catalyst linear-probe trap the
      // r17 classify scorer hit (HOF probes whose per-row cost scales
      // with a table the row shouldn't pay for), at scale, site by
      // site. Sites probed by INDEX (element_at(arr, i) is O(1) array
      // access — Pq codebooks, Profile percentile arrays, TextOps
      // ngram windows) are bounded by construction and not re-measured
      // here; the value-search sites are.
      //
      // bpe_encode applies the merge table as an O(nm · len) scan per
      // distinct word (functions/BpeEncode.scala) — nm=8 pinned in the
      // gate; the big-table leg inflates nm to 676 nonsense merges
      // (~0 applications) to expose the scan's slope for a
      // production-sized table.
      q("bpe_encode_pinned")(Bpe.bpeEncodeTokens(docs, Bpe.PinnedMerges).count())
      val bigTable: Seq[(String, String)] = for {
        l <- 'a' to 'z'; r <- 'a' to 'z'
      } yield (l.toString, r.toString)
      q("bpe_encode_676")(Bpe.bpeEncodeTokens(docs, bigTable).count())
      // blocklist literal form: array_contains over a config-sized
      // literal — O(|terms|) per token by design; the join form is
      // the scale path for big lists. Same 64 terms both ways.
      val terms = (docs.select(explode(TextOps.words(col("text"))).as("w"))
        .groupBy("w").count().orderBy(col("count").desc, col("w"))
        .limit(64).collect().map(_.getString(0))).toSeq
      q("blocklist_literal_64") {
        val cols = TextOps.blocklistColumns(col("text"), terms)
        docs.select(cols.map { case (n, c) => c.as(n) }: _*)
          .agg(sum(col("n_hits"))).collect().length.toLong
      }
      q("blocklist_join_64") {
        import spark.implicits._
        TextOps.blocklistJoin(docs, terms.toDF("w"))
          .agg(sum(col("n_hits"))).collect().length.toLong
      }
      // langid is regex-only (no map/array probes) — timed for the
      // addendum's completeness row
      q("langid") {
        docs.groupBy(TextOps.predictedLang(col("text")).as("lang"))
          .count().collect().length.toLong
      }
      // the new image-phash near-dup at scale (decode + band join),
      // plus the cluster collapse over its pairs
      q("image_phash_neardup")(
        graft.SparkEntry.queries("x_dedup_image_phash")(spark, dir).count())
      q("image_phash_clusters")(
        graft.SparkEntry.queries("x_dedup_image_clusters")(spark, dir).count())
      // streaming-decontaminate scoring body at scale (the
      // foreachBatch join): the r18 probes run measured the previous
      // single-row broadcast-intersect form rebuilding the benchmark
      // hash set PER ROW — 15.1 s vs 1.2 s at 1× and unbounded at
      // 10× — which is why the relation join is now the ONLY regime
      val bench = docs.filter(col("doc_id") % 10 === 0)
      q("decon_flags") {
        val h = graft.streaming.StreamingDecontaminate.scorer(
          bench, minShared = 5)
        try h.score(docs).count() finally h.retained.unpersist()
      }
      spark.stop()
      return
    }
    if (args.lift(1).contains("r19")) {
      // round-19 additions at this dir's scale (run at 1x/10x/100x =
      // sf0.1 / target/sf1 / target/sf10): the audio fingerprint
      // family (render + javax.sound decode + banded join — decode-
      // dominated like the image gates) and the persisted phash-store
      // batch dedup (decode TODAY'S slice only; the history is two
      // BIGINT columns)
      q("audio_fp_neardup")(
        graft.SparkEntry.queries("x_dedup_audio_fp")(spark, dir).count())
      q("audio_fp_clusters")(
        graft.SparkEntry.queries("x_dedup_audio_clusters")(spark, dir).count())
      q("image_store_dedup")(
        graft.SparkEntry.queries("x_dedup_image_store")(spark, dir).count())
      q("image_phash_clusters_collapsed")(
        graft.SparkEntry.queries("x_dedup_image_clusters")(spark, dir).count())
      // the audio fingerprint store (the shared FingerprintStore
      // lifecycle through AfpStore): min-of-2 = the warm store regime,
      // like image_store_dedup above
      q("audio_store_dedup")(
        graft.SparkEntry.queries("x_dedup_audio_store")(spark, dir).count())
      spark.stop()
      return
    }
    if (args.lift(1).contains("r20")) {
      // round-20 evidence: the size-gated driver union-find vs the
      // distributed min-label loop, at edge scales SPANNING the 2M
      // gate — synthetic chain-of-cliques graphs (64-member cliques
      // chained by bridge edges: both dense unions and long
      // propagation chains). Equality of the two regimes is
      // spec-pinned (ClusterLabelsUnionFindSpec); this measures the
      // cost shapes and shows the over-bound degrade firing.
      // 64-member cliques with random in-clique edges; every 97th
      // edge bridges clique c -> c+1, but only inside aligned groups
      // of 8 cliques — component diameter stays the near-dup shape
      // (<= ~8 rep hops) at EVERY edge count. (The first cut chained
      // every clique into one path: diameter ~ nEdges/6200, which
      // sent the round-per-hop loop into thousands of rounds — a
      // graph shape no banded near-dup pipeline produces.)
      def chainGraph(nEdges: Long) = {
        val base = spark.range(nEdges)
          .select((col("id") % 1000000L).as("lo"), col("id"))
        // `div`, not `/`: SQL division of two integers returns DOUBLE,
        // which would (correctly) disqualify the ids from the driver
        // fast path's long-only gate
        val clique = expr("lo div 64")
        val bridge = when(pmod(col("id"), lit(97L)) === 0 &&
          pmod(clique, lit(8L)) =!= 7L, 64L).otherwise(0L)
        base.select(
          (clique * 64L + pmod(xxhash64(col("id")), lit(64L))).as("doc_a"),
          (clique * 64L + pmod(xxhash64(col("id"), lit(1)), lit(64L))
            + bridge).as("doc_b"))
          .filter(col("doc_a") =!= col("doc_b"))
      }
      Seq(10000L, 100000L, 1000000L).foreach { n =>
        val pairs = chainGraph(n).localCheckpoint(true)
        q(s"cluster_labels_driver_e$n")(
          Dedup.clusterLabelsOf(pairs).count())
        // the distributed loop on the SAME graph for contrast — the
        // regime an over-bound edge list degrades to (the degrade
        // itself is spec-pinned; ClusterLabelsUnionFindSpec)
        q(s"cluster_labels_loop_e$n")(
          Dedup.clusterLabelsDistributed(pairs).count())
      }
      // the media cluster legs at this dir's scale (the r19 rows'
      // successors — post union-find)
      q("image_phash_clusters")(
        graft.SparkEntry.queries("x_dedup_image_clusters")(spark, dir).count())
      q("audio_fp_clusters")(
        graft.SparkEntry.queries("x_dedup_audio_clusters")(spark, dir).count())
      spark.stop()
      return
    }
    if (args.lift(1).contains("viral")) {
      // r18 verdict item 1's evidence row: a PLANTED viral duplicate
      // group (n identical 64-bit fingerprints re-posted over a 100k
      // distinct background). The pairwise path emits the group's
      // full C(n,2) pair set into the band join before the cluster
      // collapse — quadratic in n; hammingClusters bands one
      // representative per distinct hash, so its pair stage is flat
      // in n. Counts are reported so the slopes are data, not claims.
      val ViralHash = 0x0F0F0F0F0F0F0F0FL
      def fpsDf(groupN: Long, bgN: Long) =
        spark.range(groupN)
          .select(col("id").as("doc_id"), lit(ViralHash).as("phash"))
          .unionByName(spark.range(groupN, groupN + bgN)
            .select(col("id").as("doc_id"), xxhash64(col("id")).as("phash")))
      Seq(1000L, 10000L, 100000L).foreach { n =>
        val df = fpsDf(n, 100000L)
        val base = Dedup.hammingBase(df, "doc_id", "phash")
        val repPairs = Dedup.hammingBandPairs(
          Dedup.hammingGroups(base)
            .select(col("rep").as("id"), col("h")), 3, 4).count()
        println(s"PROF viral_rep_pair_rows_n$n $repPairs rows")
        q(s"viral_clusters_collapsed_n$n")(
          Dedup.hammingClusters(df, "doc_id", "phash").count())
        // the legacy pairwise shape for contrast. Pair COUNTS through
        // n=10k (5e7 rows); the legacy CLUSTER propagation only at
        // n=1k — at n=10k feeding the 5e7-row pair set through
        // clusterLabelsOf's checkpointed edges KILLED the 32-thread
        // 128 GB JVM (exit 52, shuffle blocks evicted mid-propagation;
        // measured 2026-08-16) — that crash IS the cliff this
        // collapse removes, recorded as data, not re-run
        if (n <= 10000L) {
          val legacyPairs = Dedup.hammingNearDup(df, "doc_id", "phash").count()
          println(s"PROF viral_legacy_pair_rows_n$n $legacyPairs rows")
        }
        if (n <= 1000L) {
          q(s"viral_clusters_legacy_n$n")(
            Dedup.clusterLabelsOf(
              Dedup.hammingNearDup(df, "doc_id", "phash")
                .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
              .count())
        }
      }
      // the TEXT path's collapse: 10k identical documents over the
      // fixture corpus as background — the candidate stage sees ONE
      // representative for the clique (count printed), and the
      // collapsed dupClusters wall includes the checkpointed label
      // propagation
      val viralText = spark.range(10000L)
        .select(col("id").as("doc_id"),
          lit((0 until 12).map(i => s"viral$i").mkString(" ")).as("text"))
        .unionByName(docs.select(col("doc_id") + 1000000L, col("text"))
          .toDF("doc_id", "text"))
      val sh = Dedup.shingled(viralText)
      val keyed = Dedup.shingleSetKeyed(sh)
      val reps = keyed.groupBy(col("k")).agg(min(col("doc_id")).as("rep"))
      val shReps = sh.join(reps.select(col("rep").as("doc_id")),
        Seq("doc_id"), "left_semi")
      println(s"PROF viral_text_rep_candidates " +
        s"${Dedup.minhashCandidates(shReps, 200, 32, 2).count()} rows")
      // clear the cluster memo inside the thunk (the knn_classify_ivf
      // pattern): min-of-2 must time the collapsed BUILD — candidate
      // generation + label propagation — not a clusterCache hit
      q("viral_text_clusters_collapsed") {
        Dedup.clearPairCache()
        Dedup.dupClusters(viralText).count()
      }
      spark.stop()
      return
    }
    if (args.lift(1).contains("flagship")) {
      // r18 verdict item 5: one decade FURTHER on the cheapest
      // flagship paths — run at target/sf100 (ScaleGen x1000 from
      // sf0.1: 5M docs / 2M embeddings) to confirm the 1x/10x/100x
      // exponent fits hold a fourth decade. min-of-2 means the second
      // pass is the warm store regime for the store leg (the cold
      // build stays visible in run-1 logs).
      q("dedup_exact_1000x")(
        graft.SparkEntry.queries("x_dedup_exact")(spark, dir).count())
      q("embedding_store_1000x")(
        graft.SparkEntry.queries("x_dedup_embedding_store")(spark, dir).count())
      q("image_clusters_1000x")(
        graft.SparkEntry.queries("x_dedup_image_clusters")(spark, dir).count())
      spark.stop()
      return
    }
    if (args.lift(1).contains("pqcold")) {
      // Attribution of the x_dedup_embedding_pq PASS-1 cold event (the
      // one residual cold leg in the driver bench): split the first
      // run's cost into its four components by selective memo drops —
      // single-shot timings, deliberately NOT min-of-2 (a second run
      // is warm by construction). Every component is a contract cost
      // paid once per (corpus, geometry): the codebook fit and coarse
      // fit are memoized on the training lineage, the certification on
      // (corpus, codebook, threshold, bound).
      def t1(name: String)(f: => Long): Double = {
        val t0 = System.nanoTime; f
        val s = (System.nanoTime - t0) / 1e9
        println(f"PROF pqcold_$name $s%.2f s"); s
      }
      Pq.clearCodebookCache(); Similarity.clearQuantizerCache()
      val cold = t1("full_cold")(Pq.embeddingNearDupPq(emb).count())
      val warm = t1("full_warm")(Pq.embeddingNearDupPq(emb).count())
      // coarse-quantizer refit alone (codebook + certs stay memoized)
      Similarity.clearQuantizerCache()
      val coarse = t1("coarse_refit")(
        Pq.embeddingNearDupPq(emb).count()) - warm
      // codebook refit + certification re-probe (clearing the codebook
      // memo also drops the margin certs — they key on the codebook)
      Pq.clearCodebookCache()
      val cbAndCert = t1("codebook_and_cert_refit")(
        Pq.embeddingNearDupPq(emb).count()) - warm
      // codebook refit with certification opted out → isolates the fit
      Pq.clearCodebookCache()
      val cbOnly = t1("codebook_refit_nocert")(
        Pq.embeddingNearDupPq(emb, certifyMargin = false).count()) - warm
      println(f"PROF pqcold_attribution coarse_fit=$coarse%.2f " +
        f"codebook_fit=$cbOnly%.2f certification=${cbAndCert - cbOnly}%.2f " +
        f"warm_body=$warm%.2f full_cold=$cold%.2f")
      spark.stop()
      return
    }
    if (args.lift(1).contains("r7new")) {
      // round-7 additions: bigram LM is O(total tokens) like the
      // unigram family (its model tables grow with bigram vocabulary —
      // ScaleGen's prefixed copies grow vocab LINEARLY, deliberately
      // exercising the AQE broadcast gate at the upper scales);
      // quantized kNN is O(corpus · 5 queries) over packed bytes;
      // rebalance is one compact-projection scan + a tiny windowed agg
      q("bigram_lm")(CorpusStats.bigramLm(docs).count())
      q("knn_quantized")(Quantize.knnQuantized(emb).count())
      q("mixture_rebalance")(
        Sampling.rebalanceSummary(docs, "lang", "doc_id").count())
      spark.stop()
      return
    }
    if (args.lift(1).contains("spans")) {
      // third-batch additions: duplicate-span detection is one
      // explode + two window shuffles, O(total tokens · log) from the
      // in-partition sorts — the scale column should track corpus
      // tokens. Driven by a sum over the span columns, not count():
      // count() over the final docs-left-join could let the planner
      // skip materializing the span aggregate's values.
      q("dup_spans")(Dedup.duplicateSpans(docs)
        .agg(sum(col("dup_words")), sum(col("n_dup_windows")))
        .collect().length.toLong)
      q("source_cap") {
        val scored = docs.select(col("doc_id"), col("source"),
          TextOps.distinctWordCount(col("text")).as("score"))
        Sampling.capPerGroup(scored, "source", "doc_id", "score", 10).count()
      }
      spark.stop()
      return
    }
    if (args.lift(1).contains("spanskew")) {
      // gram-key skew audit for the span family: how concentrated are
      // the hottest shingles (the whole-partition window's single-task
      // exposure), and does an aggregate-then-join reshape (map-side
      // partial combine collapses skew; AQE splits fat join
      // partitions) beat the fused window at this scale?
      val grams = Spread(docs)
        .select(col("doc_id"), TextOps.words(col("text")).as("ws"))
        .select(col("doc_id"),
          posexplode(TextOps.positionalNgramsOf(col("ws"), 5))
            .as(Seq("pos", "gram")))
      val occ = grams.groupBy(col("gram")).count()
        .agg(count(lit(1)).as("n_grams"), max(col("count")).as("top1"),
          sum(col("count")).as("total")).collect()(0)
      println(s"SKEW n_distinct_grams=${occ.getLong(0)} top_gram_rows=" +
        s"${occ.getLong(1)} total_gram_rows=${occ.getLong(2)}")
      def aggJoinHits(w: Int) = {
        val g = Spread(docs)
          .select(col("doc_id"), TextOps.words(col("text")).as("ws"))
          .select(col("doc_id"),
            posexplode(TextOps.positionalNgramsOf(col("ws"), w))
              .as(Seq("pos", "gram")))
        val dup = g.groupBy(col("gram"))
          .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
          .filter(col("mn") =!= col("mx"))
          .select(col("gram"))
        g.join(dup, Seq("gram")).select(col("doc_id"), col("pos"))
      }
      def drive(d: org.apache.spark.sql.DataFrame): Long = d
        .agg(sum(length(col("clean_text"))), sum(col("n_removed")))
        .collect().length.toLong
      q("span_remove_window")(drive(Dedup.spanRemove(docs)))
      q("span_remove_aggjoin")(drive(Dedup.removeCovered(
        Spread(docs)
          .select(col("doc_id"), TextOps.words(col("text")).as("ws")),
        aggJoinHits(5), 5)))
      spark.stop()
      return
    }
    if (args.lift(1).contains("contain")) {
      // containment-family skew demonstration: a boilerplate-heavy
      // corpus (30 % of docs share an 80-word licence header) is the
      // adversarial case for the EXACT inverted index — every header
      // gram's postings list is 0.3·n long and the gram join goes
      // quadratic in that block. The capped form drops those grams
      // from the candidate index and exact-verifies the survivors.
      val sp = spark
      import sp.implicits._
      val n = args.lift(2).map(_.toInt).getOrElse(20000)
      val header = (1 to 80).map(i => s"lic$i").mkString(" ")
      val skewed = sp.range(0, n.toLong, 1, 32).select(col("id").as("doc_id"),
        when(col("id") % 10 < 3,
          concat(lit(header + " "), col("id").cast("string")))
          .otherwise(concat_ws(" ",
            (1 to 40).map(j => md5(concat(col("id"), lit(j)))): _*))
          .as("text"))
        .cache()
      println(s"CONTAIN corpus n=$n boilerplate=${skewed.filter(col("text").startsWith("lic")).count()}")
      q("containment_exact") {
        Dedup.clearShingleCache()
        Dedup.containmentPairs(skewed, leftMax = 500).count()
      }
      q("containment_capped") {
        Dedup.clearShingleCache()
        Dedup.containmentPairsCapped(skewed, leftMax = 500,
          maxGramDf = n / 100L).count()
      }
      // the Jaccard pair: the SAME skew is the missing justification
      // measurement for the prefix filter — on the low-skew synthetic
      // corpus the brute inverted index wins at every scale (round-5
      // table), but brute's postings for the header grams go
      // quadratic here while PPJoin prefixes hold only each doc's
      // RAREST tokens, which boilerplate grams never are
      q("jaccard_brute") {
        Dedup.clearShingleCache()
        Dedup.ngramJaccardBrute(skewed, leftMax = 500).count()
      }
      q("jaccard_prefix") {
        Dedup.clearShingleCache()
        Dedup.ngramJaccardPrefix(skewed, leftMax = 500).count()
      }
      spark.stop()
      return
    }
    if (args.lift(1).contains("r12new")) {
      // round-12: the within-doc in-row sort vs the r11 prefix probe
      // it replaced, on the long-doc shape that flagged the probe
      // (book-length docs stalling their partition), plus the outlier
      // sketch sibling. Synthetic long docs: small vocab → heavy gram
      // repetition; 8 docs spread over the 32 threads so wall ≈ one
      // doc's cost.
      val sp2 = spark
      import sp2.implicits._
      def longDocs(nTokens: Int): org.apache.spark.sql.DataFrame = {
        val rnd = new scala.util.Random(12)
        val df = (1L to 8L).map(i =>
            (i, (0 until nTokens).map(_ => "t" + rnd.nextInt(2000))
              .mkString(" ")))
          .toDF("doc_id", "text").repartition(8).cache()
        df.count(); df
      }
      // the REPLACED r11 form, inlined verbatim for the comparison
      // row: each gram probes a slice of all preceding grams — and
      // the gs alias inlines into the lambda, so the probe's true
      // cost includes re-deriving the gram array per position
      def naive(d: org.apache.spark.sql.DataFrame, w: Int = 3) =
        d.select(col("doc_id"), TextOps.words(col("text")).as("ws"))
          .withColumn("gs", TextOps.positionalNgramsOf(col("ws"), w))
          .withColumn("cov", array_distinct(flatten(transform(
            filter(sequence(lit(1), greatest(size(col("gs")), lit(1))),
              i => i >= 2 &&
                array_position(slice(col("gs"), lit(1), i - 1),
                  element_at(col("gs"), i)) > 0),
            i => sequence(i, i + (w - 1))))))
          .select(col("doc_id"),
            size(col("cov")).cast("bigint").as("n_removed"),
            array_join(filter(col("ws"),
              (tok, i0) => !array_contains(col("cov"), i0 + 1)), " ")
              .as("clean_text"))
      def drive(d: org.apache.spark.sql.DataFrame): Long = d
        .agg(sum(length(col("clean_text"))), sum(col("n_removed")))
        .collect().length.toLong
      val d10k = longDocs(10000)
      q("within_doc_10k_sort")(drive(Dedup.withinDocRemove(d10k)))
      q("within_doc_10k_naive")(drive(naive(d10k)))
      d10k.unpersist()
      val d50k = longDocs(50000)
      q("within_doc_50k_sort")(drive(Dedup.withinDocRemove(d50k)))
      d50k.unpersist()
      q("within_doc_corpus")(drive(Dedup.withinDocRemove(docs)))
      q("embed_outliers_sketch")(Quantize.embeddingOutliersSketch(emb)
        .agg(sum(col("is_outlier"))).collect().length.toLong)
      q("embed_outliers_sketch_check")(
        Quantize.embeddingOutliersSketchCheck(emb).count())
      spark.stop()
      return
    }
    if (args.lift(1).contains("r11new")) {
      // round-11 additions. span_remove sums clean_text length so the
      // reconstruction expression (the per-row cost) can't be pruned
      // by a count-only drive; kmeans cold/warm splits the memoized
      // fit (3 driver-anchored passes) from the final assignment pass.
      q("span_remove")(Dedup.spanRemove(docs)
        .agg(sum(length(col("clean_text"))), sum(col("n_removed")))
        .collect().length.toLong)
      q("kmeans_cold") {
        Kmeans.clearCache()
        Kmeans.kmeansAssign(emb).agg(sum(col("dist2"))).collect().length.toLong
      }
      q("kmeans_warm")(
        Kmeans.kmeansAssign(emb).agg(sum(col("dist2"))).collect().length.toLong)
      q("kmeans_purity_warm")(Kmeans.kmeansPurity(emb)
        .agg(sum(col("n")), sum(col("sum_dist2"))).collect().length.toLong)
      q("knn_ivf_lattice_warm")(Kmeans.knnIvfLattice(emb).count())
      q("cluster_sample_warm")(Kmeans.clusterSample(emb).count())
      // per-copy benchmark slice: ScaleGen strides ids by 1e7/copy,
      // so the modulo recovers "ids < 50" inside every copy
      q("decontaminate_remove")(Dedup.decontaminateRemove(
          docs.filter(col("doc_id") % 10000000L >= 50),
          docs.filter(col("doc_id") % 10000000L < 50))
        .agg(sum(length(col("clean_text"))), sum(col("n_removed")))
        .collect().length.toLong)
      q("embed_outliers")(Quantize.embeddingOutliers(emb)
        .agg(sum(col("is_outlier"))).collect().length.toLong)
      q("kmeans_fit_report_warm")(
        Kmeans.kmeansFitReport(emb).collect().length.toLong)
      spark.stop()
      return
    }
    if (args.lift(1).contains("r12sem")) {
      // round-12 addition: SemDeDup on the lattice cells. Warm = the
      // memoized fit is paid, so the row times the pair generation +
      // greedy-drop decision; the sum drives both output columns so
      // neither the flag nor the count can be pruned.
      q("semantic_dedup_cold") {
        Kmeans.clearCache()
        Kmeans.semanticDedup(emb)
          .agg(sum(col("keep")), sum(col("n_dups_before")))
          .collect().length.toLong
      }
      q("semantic_dedup_warm")(Kmeans.semanticDedup(emb)
        .agg(sum(col("keep")), sum(col("n_dups_before")))
        .collect().length.toLong)
      spark.stop()
      return
    }
    if (args.lift(1).contains("cands")) {
      println(s"PROF ann_candidates ${Similarity.annCandidateCount(emb)}")
      spark.stop()
      return
    }
    if (args.lift(1).contains("search")) {
      // ranked retrieval: both are one corpus-scan shapes (BM25's
      // postings are term-filtered before aggregation; phrase search
      // is a positional fold with no explode), so the scale column
      // should track corpus tokens ~linearly
      q("search_bm25")(Search.bm25TopK(docs).count())
      q("search_bm25_multi")(Search.bm25TopKMulti(docs).count())
      q("search_phrase")(
        Search.phraseSearch(docs, Seq("batch", "batch")).count())
      // chunk-index candidate volume is collision-driven: ScaleGen
      // copies carry disjoint vocabularies, so the column should stay
      // near the 1× value while the corpus grows 100×
      q("dedup_edit_distance")(Dedup.editDistancePairs(docs).count())
      // trainer: ONE corpus pass (word vocab) + 10 vocab-sized
      // iterations; ScaleGen vocab grows linearly with copies, so the
      // column tracks vocabulary, not corpus
      q("bpe_merges_10")(Bpe.bpeMerges(docs, 10).count())
      spark.stop()
      return
    }
    if (args.lift(1).contains("events")) {
      // windowed-event / stream-join family over the ScaleGen events
      // copies (user-id-shifted: per-user structure preserved, never
      // crossing copies): the joins key on user_id and the windows on
      // (window, type) or user — all should scale ~linearly in events
      val ev = graft.engine.Tables.table(spark, dir, "events")
      import graft.streaming.EventWindows
      q("stream_join")(EventWindows.viewClickPairs(ev).count())
      q("stream_join_outer")(EventWindows.viewClickPairsOuter(ev).count())
      q("tumbling")(EventWindows.tumblingHourly(ev).count())
      q("sessions")(EventWindows.userSessions(ev).count())
      spark.stop()
      return
    }
    if (args.lift(1).contains("pqdedup")) {
      // just the PQ near-dup leg — for re-measuring verify-join
      // reworks without paying the full pqscale sweep
      q("dedup_embedding_pq_warm")(Pq.embeddingNearDupPq(emb).count())
      spark.stop()
      return
    }
    if (args.lift(1).contains("pqscale")) {
      // wall-clock scale rows for the PQ retrieval family at an
      // arbitrary ScaleGen SF (PROF_SF1.md 100× certification):
      // cold = codebook KMeans fits + count + encode + retrieve,
      // warm = the memoized-quantizer query cost the bench pays
      // after first touch. The _ivf_check row times the all-cells
      // exactness-gate configuration the driver actually runs.
      q("knn_pq_rerank_cold") {
        Pq.clearCodebookCache(); Similarity.clearQuantizerCache()
        Pq.knnPqRerank(emb).count()
      }
      q("knn_pq_rerank_warm")(Pq.knnPqRerank(emb).count())
      q("knn_pq_ivf_check_warm")(
        Pq.knnPqIvf(emb, nCells = 16, nProbe = 16).count())
      q("dedup_embedding_pq_warm")(Pq.embeddingNearDupPq(emb).count())
      // the depth law, one notch harder: worst PQ rank any TRUE brute
      // top-5 neighbor lands at, default geometry — autoCandidates
      // (n/5 past fixture sizes) must dominate this with margin
      val brute = Similarity.knnBrute(emb)
        .select(col("query_id"), col("neighbor_id"))
      // max over an EMPTY join is SQL NULL — guard like coveringMargin
      // and report a sentinel instead of an NPE
      val worstRow = brute.join(Pq.prefilterRanks(emb, 5, 16, 32, 1),
          Seq("query_id", "neighbor_id"))
        .agg(max(col("crk"))).head()
      val worst = if (worstRow.isNullAt(0)) -1 else worstRow.getInt(0)
      println(s"PROF pqscale default-geometry worst_true_rank=$worst " +
        s"depth=${Pq.autoCandidates(emb.count())}")
      spark.stop()
      return
    }
    if (args.lift(1).contains("streams")) {
      // The four `kind: stream` drain paths at scale (the one shipped
      // surface without 10×/100× rows until round 17): drain
      // throughput over a 4-drop source (maxFilesPerTrigger=1 → 4
      // micro-batches; per-batch latency = wall/4), the single-drop
      // INCREMENTAL drain a scheduled run actually pays, the empty
      // NO-OP drain (checkpoint bookkeeping alone), and for classify
      // the per-drain retrain cost that `model_dir:` removes against
      // scoring with the persisted model. Stores are built from the
      // corpus first — the production premise (streams grow/read an
      // EXISTING store). One-shot timings (q's min-of-2 would rerun a
      // drained checkpoint as a no-op and report THAT).
      val base = java.nio.file.Files
        .createTempDirectory("graft_prof_streams").toString
      def q1(name: String)(f: => Unit): Unit = {
        val t0 = System.nanoTime; f
        println(f"PROF $name ${(System.nanoTime - t0) / 1e9}%.2f s")
      }
      def drop(df: org.apache.spark.sql.DataFrame, src: String): Unit =
        df.coalesce(1).write.mode("append").parquet(src)
      def schemaOf(src: String) = spark.read.parquet(src).schema
      // every drain runs as a stage's does: started AvailableNow, then
      // awaited until the query stops itself
      import graft.cli.StageRunner.drain
      // a store-backed stream stage's drain: its per-batch store verb
      // over `src`, one file per trigger
      def stageDrain(src: String, ck: String, fields: String*): () => Unit = {
        val stage = graft.config.PipelineConfig.parse(
          (Seq("stages:", "  - name: prof", "    kind: stream",
            s"    input_dir: $base", s"    source_dir: $src",
            s"    checkpoint: $ck") ++ fields.map("    " + _))
            .mkString("\n")).stages.head
        () => drain(graft.streaming.BatchedParquetSink.start(spark, src,
          schemaOf(src), 1, Some(ck), availableNow = true)(
          graft.cli.StageRunner.streamBatch(spark, stage)))
      }

      // ---- index_ingest (ivf): fresh ids appended into a built store
      val ivfDir = s"$base/ivf_store"
      q1("streams_ivf_build")(IvfIndex.save(emb, ivfDir, nCells = 16))
      val ingSrc = s"$base/ing_src"
      val fresh = emb.select((col("vec_id") + 10000000L).as("vec_id"),
        col("embedding"))
      for (i <- 0 until 4)
        drop(fresh.filter(col("vec_id") % 100 === i), ingSrc)
      val ingDrain = stageDrain(ingSrc, s"$base/ing_ck",
        "stream: index_ingest", "store: ivf", s"dir: $ivfDir")
      q1("streams_ivf_ingest_drain4")(ingDrain())
      drop(fresh.filter(col("vec_id") % 100 === 4), ingSrc)
      q1("streams_ivf_ingest_inc")(ingDrain())
      q1("streams_ivf_ingest_noop")(ingDrain())

      // ---- embedding_dedup: incoming batches flagged vs ivfpq store
      val pqDir = s"$base/ivfpq_store"
      q1("streams_ivfpq_build")(IvfPqStore.save(emb, pqDir, nCells = 16))
      val edSrc = s"$base/ed_src"
      val qrel = emb.select(col("vec_id").as("query_id"),
        col("embedding").as("qv"))
      for (i <- 0 until 4)
        drop(qrel.filter(col("query_id") % 100 === i), edSrc)
      val edDrain = stageDrain(edSrc, s"$base/ed_ck",
        "stream: embedding_dedup", s"dir: $pqDir", s"out_dir: $base/ed_out")
      q1("streams_embdedup_drain4")(edDrain())
      drop(qrel.filter(col("query_id") % 100 === 4), edSrc)
      q1("streams_embdedup_inc")(edDrain())
      q1("streams_embdedup_noop")(edDrain())

      // ---- store_dedup: incoming text batches vs the gram store
      val gramDir = s"$base/gram_store"
      q1("streams_gram_build")(DedupStore.save(docs, gramDir))
      val sdSrc = s"$base/sd_src"
      val drel = docs.select(col("doc_id"), col("text"))
      for (i <- 0 until 4)
        drop(drel.filter(col("doc_id") % 100 === i), sdSrc)
      val sdDrain = stageDrain(sdSrc, s"$base/sd_ck",
        "stream: store_dedup", s"dir: $gramDir", s"out_dir: $base/sd_out")
      q1("streams_storededup_drain4")(sdDrain())
      drop(drel.filter(col("doc_id") % 100 === 4), sdSrc)
      q1("streams_storededup_inc")(sdDrain())
      q1("streams_storededup_noop")(sdDrain())

      // ---- classify: retrain-per-drain (the pre-r17 shape) vs the
      // persisted model the model_dir drain loads
      val mDir = s"$base/clf_model"
      q1("streams_classify_retrain_cost")(
        { Classify.tokenClassifierModel(docs).count(); () })
      q1("streams_classify_save_model")(Classify.saveModel(docs, mDir))
      val model = Classify.loadModel(spark, mDir)
      val clSrc = s"$base/cl_src"
      for (i <- 0 until 4)
        drop(drel.filter(col("doc_id") % 100 === i), clSrc)
      def clDrain(): Unit = drain(graft.streaming.StreamingClassify
        .streamingPredictToDir(spark, clSrc, schemaOf(clSrc), model,
          s"$base/cl_out", maxFilesPerTrigger = 1,
          checkpoint = Some(s"$base/cl_ck")))
      q1("streams_classify_drain4")(clDrain())
      drop(drel.filter(col("doc_id") % 100 === 4), clSrc)
      q1("streams_classify_inc")(clDrain())
      q1("streams_classify_noop")(clDrain())

      println(s"PROF streams nDocs=${docs.count()} nEmb=${emb.count()} " +
        "drop=1pct batches=4+1")
      spark.stop()
      return
    }
    if (args.lift(1).contains("storededup")) {
      // the persisted composed index in its PRODUCTION regime (the
      // gate rows run exhaustive settings for oracle equality; this
      // mode measures what a real caller pays): build once, then
      // incremental embedding dedup of a 1%-of-corpus batch at
      // production probes/margin vs the exhaustive configuration
      val dir = java.nio.file.Files
        .createTempDirectory("graft_prof_ivfpq").toString
      val n = emb.count()
      q("ivfpq_store_build") { IvfPqStore.save(emb, dir, nCells = 16); 0L }
      val incoming = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      q("store_dedup_production")(IvfPqStore.dedupAgainst(
        spark, dir, incoming, minCosine = 0.3, nProbe = 4).count())
      q("store_dedup_production_warm")(IvfPqStore.dedupAgainst(
        spark, dir, incoming, minCosine = 0.3, nProbe = 4).count())
      q("store_dedup_exhaustive")(IvfPqStore.dedupAgainst(
        spark, dir, incoming, minCosine = 0.3, nProbe = 16,
        margin = 2.0).count())
      println(s"PROF storededup n=$n batch=${n / 100}")
      spark.stop()
      return
    }
    if (args.lift(1).contains("pqgap")) {
      // covering-margin re-validation after any codebook-changing
      // knob (trainMod default, maxIter cap): the default 0.35 margin
      // must dominate the worst one-sided exact−SDC gap at the
      // OPERATOR's default trainMod
      for (tm <- Seq(1, 2, 4)) {
        Pq.clearCodebookCache()
        val gap = Pq.sdcTruePairGap(emb, trainMod = tm)
        val sampled = Pq.sdcSampledGapOf(emb, trainMod = tm)
        println(f"PROF pqgap trainMod=$tm worst_gap=$gap%.4f " +
          f"sampled_gap=$sampled%.4f")
      }
      Pq.clearCodebookCache()
      spark.stop()
      return
    }
    if (args.lift(1).contains("pq")) {
      // covering-margin probe for the PQ prefilter: the worst PQ rank
      // any TRUE brute top-5 neighbor lands at, per geometry — the
      // candidate depth must exceed this with margin for
      // x_knn_pq_rerank's brute-equality contract to hold
      val brute = Similarity.knnBrute(emb)
        .select(col("query_id"), col("neighbor_id"))
      for ((m, k, tm) <- Seq((8, 16, 4), (8, 16, 1), (16, 16, 1),
          (8, 32, 1), (16, 32, 1))) {
        Pq.clearCodebookCache()
        val worst = brute.join(Pq.prefilterRanks(emb, 5, m, k, tm),
            Seq("query_id", "neighbor_id"))
          .agg(max(col("crk"))).head().getInt(0)
        println(s"PROF pq m=$m k=$k trainMod=$tm worst_true_rank=$worst")
      }
      Pq.clearCodebookCache()
      spark.stop()
      return
    }
    if (args.lift(1).contains("super")) {
      // the two >linear scalers (PROF_SF1.md): prefix pays the per-doc
      // sorted-prefix aggregation, ANN generates O(n^1.5·nProbe)
      // candidates by design — this mode times just those two so the
      // 100× exponent fit doesn't drag the whole family along
      q("ngram_prefix")(Dedup.ngramJaccardPrefix(docs).count())
      q("embedding_ann")(Similarity.embeddingNearDupAnn(emb).count())
      // the algorithmic term, separated from verify-join spill: the
      // candidate count is the O(n^1.5·nProbe) design quantity
      println(s"PROF ann_candidates ${Similarity.annCandidateCount(emb)}")
      spark.stop()
      return
    }
    if (corpusOnly) {
      // corpus-statistics / curation family (round-5 operators):
      // every one a token or shingle aggregation whose work is
      // O(total tokens) — the scale column should track corpus size
      q("unigram_rarity")(CorpusStats.unigramRarity(docs).count())
      q("top_terms")(CorpusStats.topTermsPerDoc(docs).count())
      q("top_trigrams")(CorpusStats.topTrigrams(docs).count())
      q("mixture")(CorpusStats.mixtureReport(docs).count())
      q("incremental_dedup")(Dedup.dedupAgainstCorpus(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0)).count())
      spark.stop()
      return
    }
    q("ngram_prefix")(Dedup.ngramJaccardPrefix(docs).count())
    q("ngram_brute")(Dedup.ngramJaccardBrute(docs).count())
    // the verified-pair memo would make the second (min-of-2) pass a
    // cache lookup and the row would stop tracking strategy cost —
    // clear it inside the thunk so both passes measure the build (the
    // SHINGLE substrate stays cached by design: strategies are timed
    // atop it, its build cost belongs to the first consumer above)
    q("minhash") { Dedup.clearPairCache(); Dedup.minhashLsh(docs).count() }
    q("simhash")(Dedup.simhashNearDup(docs).count())
    q("clusters") { Dedup.clearPairCache(); Dedup.dupClusters(docs).count() }
    q("embedding_pairs")(Dedup.embeddingCosinePairs(emb).count())
    q("embedding_ann")(Similarity.embeddingNearDupAnn(emb).count())
    q("knn_ivf")(Similarity.knnIvf(emb).count())
    q("knn_lsh")(Similarity.knnLsh(emb).count())

    val bruteP = Dedup.ngramJaccardBrute(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val prefP = Dedup.ngramJaccardPrefix(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"PROF prefix==brute: ${bruteP == prefP} (${bruteP.size} pairs)")

    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    bruteP.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = bruteP.flatMap(p => Set(p._1, p._2))
      .map(x => (x, find(x))).toMap
    val got = Dedup.dupClusters(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    println(s"PROF clusters==unionfind: ${expect == got} (${got.size} nodes)")
    spark.stop()
  }
}
