package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.{GraftSession, SparkEntry, Tables}

/** Scale sweep of the heaviest operators — the cheapest honest test of
  * the "would this survive 100×" design claims within one sandbox.
  *
  * Builds a FACTOR× replica of the sf0.1 documents/embeddings tables
  * under /tmp with content DECORRELATED per replica: replica k's
  * document i is SPLICED from word-thirds of three different source
  * docs (i, i+p1k, i+p2k mod N) — new text drawn from the same word
  * distribution. Jaccard (char OR word shingles) between a splice and
  * any parent ≈ (1/3)/(5/3) = 0.2, below every similarity threshold
  * in the heavy ops, so duplicate/near-duplicate RATES stay
  * scale-invariant, while stopword ratios, quality scores and token
  * counts stay corpus-realistic. The two naive stagings both measure
  * the data shape, not the operator: exact replication gives every
  * doc FACTOR-1 near-identical twins (quadratic pair blowup in the
  * replica count); a caesar cipher destroys stopwords so
  * language-gated ops skip the replicas; a per-replica word
  * PERMUTATION preserves word-interior char shingles, so char-3-gram
  * jaccard still matches replicas (measured: 9.9M pairs at 10×).
  * Then times each heavy op once warm at base scale and once at
  * scaled size, and reports the time ratio vs the data ratio
  * (ratio/factor > 1.3 ⇒ flagged super-linear).
  *
  * runMain graft.tools.ScaleSweep [factor] [opSubstr...]
  * (factor default 10 ≈ sf1; optional op-name substrings restrict the
  * roster — staging and reporting are unchanged)
  */
object ScaleSweep {

  /** The capstone assembler at CLIF-realistic channel WIDTH — 15
    * channels derived as event_type × pmod(event_id, 3) over the real
    * events table (the reference's coded tables imply dozens of
    * channels: vitals×10, lab analyte families×8, meds, scores).
    * Used by the `clif_blocked_dataset(wide15)` sweep row; the
    * 2-channel shipped query is the oracled baseline. */
  def wideBlockedDataset(spark: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .withColumn("__chan", concat(col("event_type"), lit("_"),
        pmod(col("event_id"), lit(3))))
    val channels = for {
      et <- Seq("click", "signup", "purchase", "error", "view")
      i <- 0 to 2
    } yield graft.clif.BlockedDataset.Channel(s"${et}_$i",
      s"c_${et}_$i", toleranceSeconds = 86400L)
    graft.clif.BlockedDataset.build(ev, encCol = "user_id",
      tsCol = "ts", channelCol = "__chan", valueCol = "value",
      tiebreak = "event_id", channels = channels, stepSeconds = 3600L,
      outcome = col("event_type") === "error", rollRows = 4,
      trainPct = 80, valPct = 10)
  }

  def main(args: Array[String]): Unit = {
    val factor = if (args.nonEmpty) args(0).toInt else 10
    val onlyOps = args.drop(1).toSeq
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // local-mode harness: "driver results" are an in-process copy, the
      // 1g default cap only aborts legitimately-large local materializa-
      // tions (hit by localCheckpoint lineage cuts at factor 100)
      .config("spark.driver.maxResultSize", "8g")
      .getOrCreate()
    spark0.sparkContext.setLogLevel("WARN")
    val spark = GraftSession.tune(spark0)

    // ---- stage the scaled tables (idempotent per factor) ----
    val scaled = s"/tmp/graft_scale_x$factor"
    val marker = new java.io.File(s"$scaled/_DONE")
    if (!marker.exists()) {
      val docs = Tables.load(spark, base, "documents")
      val nDocs = docs.count()
      // word-thirds of every doc, keyed for the three splice joins
      val words = docs.select(col("doc_id"), col("lang"), col("source"),
        col("n_chars"), split(col("text"), " ").as("w"))
      def third(part: Int): org.apache.spark.sql.Column = {
        val sz = size(col("w"))
        val lo = (sz * part / 3) + 1 // slice() is 1-based
        val hi = sz * (part + 1) / 3
        slice(col("w"), lo, greatest(hi - lo + 1, lit(0)))
      }
      val t0 = words.select(col("doc_id"), col("lang"), col("source"),
        col("n_chars"), third(0).as("wa"))
      // replicas written in CHUNKS: a single factor-way union of
      // 2-join replica plans OOMs the driver/codegen at factor ≈ 100 —
      // one bounded job per chunk keeps staging flat in the factor
      def replica(k: Int) =
        if (k == 0) docs
        else {
          val p1 = 1 + (k * 997L) % (nDocs - 1)
          val p2 = 1 + (k * 2003L) % (nDocs - 2)
          val t1 = words.select(
            pmod(col("doc_id") - p1 + nDocs, lit(nDocs)).as("doc_id"),
            third(1).as("wb"))
          val t2 = words.select(
            pmod(col("doc_id") - p2 + nDocs, lit(nDocs)).as("doc_id"),
            third(2).as("wc"))
          t0.join(t1, "doc_id").join(t2, "doc_id")
            .select((col("doc_id") + k * 10000000L).as("doc_id"),
              array_join(concat(col("wa"), col("wb"), col("wc")), " ")
                .as("text"),
              col("lang"), col("source"), col("n_chars"))
        }
      (0 until factor).grouped(10).zipWithIndex.foreach { case (ks, gi) =>
        ks.map(replica).reduce(_ unionByName _)
          .write.mode(if (gi == 0) "overwrite" else "append")
          .parquet(s"$scaled/documents.parquet")
      }
      val emb = Tables.load(spark, base, "embeddings")
      (0 until factor).grouped(10).zipWithIndex.foreach { case (ks, gi) =>
        ks.map { k =>
          if (k == 0) emb
          else emb.select((col("vec_id") + k * 10000000L).as("vec_id"),
            transform(col("embedding"),
              x => (x + lit(k * 0.0137f)).cast("float")).as("embedding"),
            col("label"))
        }.reduce(_ unionByName _)
          .write.mode(if (gi == 0) "overwrite" else "append")
          .parquet(s"$scaled/embeddings.parquet")
      }
      marker.getParentFile.mkdirs(); marker.createNewFile(); ()
    }
    // ---- r9 tables: events (funnel/retention/zorder/MV) and customer
    // (edit join). Scale model: NEW users/customers per replica (ids
    // offset), so per-user event density and name-format realism stay
    // scale-invariant — the way a real corpus grows. Separate marker:
    // earlier-round stagings lack these tables. ----
    val marker2 = new java.io.File(s"$scaled/_DONE_EVENTS")
    if (!marker2.exists()) {
      val ev = Tables.load(spark, base, "events")
      (0 until factor).grouped(10).zipWithIndex.foreach { case (ks, gi) =>
        ks.map { k =>
          if (k == 0) ev
          else ev.select((col("event_id") + k * 100000000L).as("event_id"),
            col("ts"), (col("user_id") + k * 1000000L).as("user_id"),
            col("event_type"), col("value"), col("props"))
        }.reduce(_ unionByName _)
          .write.mode(if (gi == 0) "overwrite" else "append")
          .parquet(s"$scaled/events.parquet")
      }
      val cust = Tables.load(spark, base, "customer")
      (0 until factor).grouped(10).zipWithIndex.foreach { case (ks, gi) =>
        ks.map { k =>
          if (k == 0) cust
          else cust.withColumn("c_custkey", col("c_custkey") + k * 1000000L)
            .withColumn("c_name",
              format_string("Customer#%09d", col("c_custkey")))
        }.reduce(_ unionByName _)
          .write.mode(if (gi == 0) "overwrite" else "append")
          .parquet(s"$scaled/customer.parquet")
      }
      marker2.createNewFile(); ()
    }
    // ---- r14 table: orders (theil / cochran-armitage). Scale model:
    // NEW orders per replica (key offsets), priority/status/date
    // distributions unchanged — the contingency/dose frames stay
    // fixed-size while the scanned mass grows linearly. ----
    val marker3 = new java.io.File(s"$scaled/_DONE_ORDERS")
    if (!marker3.exists()) {
      val ord = Tables.load(spark, base, "orders")
      (0 until factor).grouped(10).zipWithIndex.foreach { case (ks, gi) =>
        ks.map { k =>
          if (k == 0) ord
          else ord
            .withColumn("o_orderkey", col("o_orderkey") + k * 100000000L)
            .withColumn("o_custkey", col("o_custkey") + k * 1000000L)
        }.reduce(_ unionByName _)
          .write.mode(if (gi == 0) "overwrite" else "append")
          .parquet(s"$scaled/orders.parquet")
      }
      marker3.createNewFile(); ()
    }
    // ---- r14 table: lineitem (moment-agg family). NEW orders per
    // replica (key offsets); numeric columns untouched, so moment
    // sums grow linearly with identical per-row cost. ----
    val marker4 = new java.io.File(s"$scaled/_DONE_LINEITEM")
    if (!marker4.exists()) {
      val li = Tables.load(spark, base, "lineitem")
      (0 until factor).grouped(10).zipWithIndex.foreach { case (ks, gi) =>
        ks.map { k =>
          if (k == 0) li
          else li
            .withColumn("l_orderkey", col("l_orderkey") + k * 100000000L)
        }.reduce(_ unionByName _)
          .write.mode(if (gi == 0) "overwrite" else "append")
          .parquet(s"$scaled/lineitem.parquet")
      }
      marker4.createNewFile(); ()
    }

    def timeIt(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }

    // pre-staged LSH index per dir (markered, untimed): the probe op
    // measures INCREMENT cost against an existing index, not the build
    val lshStaged = scala.collection.mutable.Map.empty[String, String]
    def lshIndexFor(d: String): String = lshStaged.getOrElseUpdate(d, {
      val p = if (d == base) s"/tmp/graft_scale_lsh_base/idx"
              else s"$scaled/lshidx"
      val m = new java.io.File(s"$p/_STAGED")
      if (!m.exists()) {
        graft.text.LshIndex.build(
          Tables.load(spark, d, "documents")
            .filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text", p)
        m.getParentFile.mkdirs(); m.createNewFile(); ()
      }
      p
    })

    val ivfOut = new java.util.concurrent.atomic.AtomicInteger
    val ops: Seq[(String, String => Long)] = Seq(
      "t_jaccard_join" -> (d => SparkEntry.queries("t_jaccard_join")(spark, d).count()),
      "t_curate" -> (d => SparkEntry.queries("t_curate")(spark, d).count()),
      "t_dedup_clusters" -> (d => SparkEntry.queries("t_dedup_clusters")(spark, d).count()),
      "t_decontaminate_bloom" -> (d => SparkEntry.queries("t_decontaminate_bloom")(spark, d).count()),
      "buildIvfIndex" -> { d =>
        val emb = Tables.load(spark, d, "embeddings")
        val p = s"/tmp/graft_scale_ivf_${ivfOut.incrementAndGet()}"
        graft.sim.Similarity.buildIvfIndex(emb, "vec_id", "embedding",
          nlist = 64, path = p)
        spark.read.parquet(p).count()
      },
      "lshIndexBuild" -> { d =>
        val p = s"/tmp/graft_scale_lshb_${ivfOut.incrementAndGet()}/idx"
        graft.text.LshIndex.build(
          Tables.load(spark, d, "documents")
            .filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text", p)
        spark.read.parquet(s"$p/bands").count()
      },
      // FIXED base batch vs the DIR'S index: the incremental-dedup
      // claim under test is "a daily batch's probe cost grows
      // sub-linearly in the corpus behind the index"
      "t_lsh_index_probe(fixed batch)" -> { d =>
        graft.text.LshIndex.probe(
          Tables.load(spark, base, "documents")
            .filter(pmod(col("doc_id"), lit(2)) === 1),
          "doc_id", "text", lshIndexFor(d), threshold = 0.5).count()
      },
      // one exchange on the hash shard + per-shard sorts: a global
      // permutation without a global sort — expect ~flat ratio/factor
      "t_epoch_shuffle" -> (d =>
        SparkEntry.queries("t_epoch_shuffle")(spark, d).count()),
      // explode + md5-window + doc-keyed reassembly, all linear in
      // corpus tokens; the spliced staging multiplies block FREQUENCIES
      // by ~factor but block count stays ∝ corpus, so expect ~1.0
      // ratio/factor (output drops as more blocks cross minRepeat —
      // that's the operator's semantics, not a cost artifact)
      "t_block_dedup" -> (d =>
        SparkEntry.queries("t_block_dedup")(spark, d).count()),
      // measured under the paper's contract (nlist ∝ corpus keeps
      // cells O(corpus/nlist) small): a FIXED nlist at factor× grows
      // every cell factor× and total within-cell work factor²× by the
      // algorithm's own semantics — that would measure the config, not the
      // operator. The block-paired verify bounds any single task
      // either way (SimilaritySpec pins the at-cap cell).
      "semDedup(nlist∝n)" -> { d =>
        val emb = Tables.load(spark, d, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val nlist = if (d == base) 64 else 64 * factor
        graft.sim.Similarity.semDedup(emb, "vec_id", "embedding",
          threshold = 0.8, nlist = nlist).count()
      },
      // one user-keyed exchange + HOF cascade; per-user arrays stay
      // constant-size (new replicas add USERS, not events-per-user) —
      // expect ~linear in the corpus, flat ratio/factor
      "w11_funnel" -> (d =>
        SparkEntry.queries("w11_funnel")(spark, d).count()),
      // window stamp + distinct-count agg, same scale model
      "w12_retention" -> (d =>
        SparkEntry.queries("w12_retention")(spark, d).count()),
      // narrow codegen projection — pure scan throughput
      "s10_zorder_key" -> (d =>
        SparkEntry.queries("s10_zorder_key")(spark, d).count()),
      // three incremental loads into a fresh MV: O(batch + touched)
      // per load; date×type partition count is FIXED, so expect
      // ~linear in the corpus (the batches grow), flat ratio/factor
      "incrementalAggMv(3 loads)" -> { d =>
        val p = s"/tmp/graft_scale_mv_${ivfOut.incrementAndGet()}/mv"
        val ev = Tables.load(spark, d, "events")
          .withColumn("event_date", col("ts").cast("date").cast("string"))
          .withColumn("value_dec", col("value").cast("decimal(18,2)"))
        val aggs = Seq(
          graft.ops.Scale.SaltedAgg.count("event_id", "n"),
          graft.ops.Scale.SaltedAgg.sum("value_dec", "sum_value"),
          graft.ops.Scale.SaltedAgg.min("value", "min_value"),
          graft.ops.Scale.SaltedAgg.max("value", "max_value"))
        (0 to 2).foreach(i => graft.ops.Merge.incrementalAggMv(spark, p,
          ev.filter(pmod(col("event_id"), lit(3)) === i),
          "event_date", Seq("event_type"), aggs))
        spark.read.parquet(p).count()
      },
      // round-10: measured on the RAW "Customer#…" keys under a cap —
      // the operator now strips the corpus-constant affix itself
      // before segmenting (distance-preserving), so the formerly
      // degenerate input behaves like the digit-only keys: every
      // post-strip segment is selective, no bucket nears the cap, and
      // recall is total (the round-9 raw capped run returned 0 pairs)
      // one lag window + hash agg over the user key — flat expected
      "w15_transitions" -> (d =>
        SparkEntry.queries("w15_transitions")(spark, d).count()),
      // per-doc term agg + doc-partition window sharing its exchange
      "t_doc_entropy" -> (d =>
        SparkEntry.queries("t_doc_entropy")(spark, d).count()),
      // Lloyd round: broadcast-argmax assignment (no shuffle) + one
      // (cluster, dim) agg; k x dim to the driver — linear expected
      "e_kmeans" -> (d =>
        SparkEntry.queries("e_kmeans")(spark, d).count()),
      "j11_edit_join(raw,cap)" -> { d =>
        graft.ops.Joins.editDistanceJoin(
          Tables.load(spark, d, "customer")
            .filter(col("c_nationkey").isin(1, 2, 3))
            .select(col("c_custkey"), col("c_name")),
          "c_custkey", "c_name", k = 1, maxBucket = Some(20000)).count()
      },
      // iterative: numMerges bounded jobs, each one explode + hash agg
      // + 1-row argmax + fuse into a pinned round state (Iterate) —
      // per-round cost should track corpus size
      "t_bpe_merges" -> (d =>
        SparkEntry.queries("t_bpe_merges")(spark, d).count()),
      // the coverage anti-join shape (grams -> window counts -> gaps-
      // and-islands -> span removal): the newest multi-exchange op
      "t_dup_span_removal" -> (d =>
        SparkEntry.queries("t_dup_span_removal")(spark, d).count()),
      // stream-stream left-outer with two-sentinel drain: fixed
      // per-batch cost + watermark-bounded state by design
      "s_stream_join_outer" -> (d =>
        SparkEntry.queries("s_stream_join_outer")(spark, d).count()),
      // narrow |tokens|·window explode + one (t1,t2) hash agg
      "t_glove_cooccur" -> (d =>
        SparkEntry.queries("t_glove_cooccur")(spark, d).count()),
      // Pregel shape: per round one src-keyed edge⋈rank join + one
      // dst-keyed agg over the checkpointed edge list
      "t_textrank" -> (d =>
        SparkEntry.queries("t_textrank")(spark, d).count()),
      // one key exchange + per-user decimal HOF fold; replicas add
      // USERS not events-per-user, so per-key arrays stay constant
      "w16_ewma" -> (d =>
        SparkEntry.queries("w16_ewma")(spark, d).count()),
      // binned range join + two windows on the purchase exchange
      "w17_attribution" -> (d =>
        SparkEntry.queries("w17_attribution")(spark, d).count()),
      // r10 ops. PQ: one encode pass + codebook-sized agg per Lloyd
      // round — expect ~linear; codebook/driver state is constant
      "e_pq_encode" -> (d =>
        SparkEntry.queries("e_pq_encode")(spark, d).count()),
      // ADC serving: m table lookups per row over codes — linear
      "e_pq_topk" -> (d =>
        SparkEntry.queries("e_pq_topk")(spark, d).count()),
      // IVF gate on top: the scored set stays nprobe/nlist of corpus
      "e_ivfpq_topk" -> (d =>
        SparkEntry.queries("e_ivfpq_topk")(spark, d).count()),
      // co-occurrence graph DENSIFIES under the spliced staging (same
      // vocab, factor× more pair observations → more edges pass
      // minCount; triangles grow with the graph, not the corpus) —
      // the orientation bound keeps wedge work ∝ edge-set size, which
      // is what the ratio actually measures here
      "g_triangles" -> (d =>
        SparkEntry.queries("g_triangles")(spark, d).count()),
      // postings filtered to the 2 phrase terms before any shuffle
      "t_phrase_search" -> (d =>
        SparkEntry.queries("t_phrase_search")(spark, d).count()),
      // narrow one-pass canonicalization; isNormalized fast path
      "t_nfc_normalize" -> (d =>
        SparkEntry.queries("t_nfc_normalize")(spark, d).count()),
      // narrow projection into TakeOrdered
      "t_weighted_sample" -> (d =>
        SparkEntry.queries("t_weighted_sample")(spark, d).count()),
      // per-key recurrence (ewma shape): one exchange, new users only
      "w20_cusum" -> (d =>
        SparkEntry.queries("w20_cusum")(spark, d).count()),
      // one lag window
      "w19_debounce" -> (d =>
        SparkEntry.queries("w19_debounce")(spark, d).count()),
      // mergeable heap agg: map-side combine ships ≤ k rows/group per
      // partition — the claim under test vs a window sort
      "a19_topk_agg" -> (d =>
        SparkEntry.queries("a19_topk_agg")(spark, d).count()),
      // binned interval-interval join; canonical-bin dedup, no distinct
      "j12_interval_overlap" -> (d =>
        SparkEntry.queries("j12_interval_overlap")(spark, d).count()),
      // streaming recurrence replay: 4 chunked triggers, O(keys) state
      "s_stream_ewma" -> (d =>
        SparkEntry.queries("s_stream_ewma")(spark, d).count()),
      // r10 third wave. KM: per-time hash agg + curve-sized fold
      "w21_survival" -> (d =>
        SparkEntry.queries("w21_survival")(spark, d).count()),
      // percentile boundaries broadcast, no global ntile sort
      "w22_rfm" -> (d =>
        SparkEntry.queries("w22_rfm")(spark, d).count()),
      // two union+LOCF exchanges (backward + negated-axis forward)
      "w23_interp" -> (d =>
        SparkEntry.queries("w23_interp")(spark, d).count()),
      // streaming heap agg: state = k rows per (window, type)
      "s_stream_topk" -> (d =>
        SparkEntry.queries("s_stream_topk")(spark, d).count()),
      // r10 fourth wave. CMS: fixed depth×width sketch built from
      // per-key partials, broadcast estimation probe — expect linear
      // scan cost, constant sketch/driver state
      "a22_cms(events)" -> (d => graft.ops.Sketches.countMinTopK(
        Tables.load(spark, d, "events"), "user_id", k = 20).count()),
      // key counts + count-of-counts window (≤ √rows rows) — linear
      "a23_skew_report" -> (d =>
        SparkEntry.queries("a23_skew_report")(spark, d).count()),
      // one key exchange, 3 leads share the window; new users only
      "w24_acf" -> (d =>
        SparkEntry.queries("w24_acf")(spark, d).count()),
      // one ordered-window exchange, then state-cardinality-sized
      "w25_markov" -> (d =>
        SparkEntry.queries("w25_markov")(spark, d).count()),
      // per-key recurrences (ewma chassis): one exchange each
      "w26_rate_limit" -> (d =>
        SparkEntry.queries("w26_rate_limit")(spark, d).count()),
      "w27_holt" -> (d =>
        SparkEntry.queries("w27_holt")(spark, d).count()),
      // one tokenize; grid is vocab×labels (vocab sublinear under the
      // spliced staging — same words recombined); scoring join on term
      "t_nb_classify" -> (d =>
        SparkEntry.queries("t_nb_classify")(spark, d).count()),
      // both arms candidate-bounded; fusion windows over ≤ arm sizes
      "t_rrf_fusion" -> (d =>
        SparkEntry.queries("t_rrf_fusion")(spark, d).count()),
      // distinct (source, md5) + hash self-join; per-gram fan-out
      // ≤ C(|sources|,2) — sources are FIXED, so expect ~linear
      "t_overlap_matrix" -> (d =>
        SparkEntry.queries("t_overlap_matrix")(spark, d).count()),
      // streaming recurrences: 4 chunked triggers, O(keys) state
      "s_stream_cusum" -> (d =>
        SparkEntry.queries("s_stream_cusum")(spark, d).count()),
      "s_stream_rate" -> (d =>
        SparkEntry.queries("s_stream_rate")(spark, d).count()),
      // df-over-gram-partition + doc agg, one md5-keyed exchange
      "t_novelty" -> (d =>
        SparkEntry.queries("t_novelty")(spark, d).count()),
      // per-key span explode (days, not events) + distinct + anti join
      "a26_gap_days" -> (d =>
        SparkEntry.queries("a26_gap_days")(spark, d).count()),
      // mergeable histogram + buckets-sized window; linear scan
      "a24_hist_quantile(events)" -> (d => graft.ops.Sketches
        .histQuantile(Tables.load(spark, d, "events"), "value",
          width = 10.0, probs = Seq(0.5, 0.9, 0.99)).count()),
      // boundary row broadcast + one bin agg; linear scan
      "a25_woe(events)" -> (d => graft.ops.Quality.woeBins(
        Tables.load(spark, d, "events"), "value",
        col("event_type") === "error", bins = 5).count()),
      // as-of union+LOCF: one key exchange over facts+versions
      "j15_scd2_asof(events)" -> { d =>
        val users = Tables.load(spark, d, "events")
          .select(col("user_id")).distinct()
        val t0 = lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
        val t1 = lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))
        val moved = pmod(col("user_id"), lit(7)) === 0
        val v1 = users.select(col("user_id"), lit("tier_a").as("tier"),
          t0.as("valid_from"),
          when(moved, t1).otherwise(lit(null).cast("timestamp"))
            .as("valid_to"))
        val v2 = users.filter(moved).select(col("user_id"),
          lit("tier_b").as("tier"), t1.as("valid_from"),
          lit(null).cast("timestamp").as("valid_to"))
        graft.ops.Joins.pointInTimeJoin(
          Tables.load(spark, d, "events")
            .select(col("event_id"), col("user_id"), col("ts")),
          v1.unionByName(v2), Seq("user_id"), "ts",
          "valid_from", "valid_to", Seq("tier")).count()
      },
      // chained dedup+agg: state bounded by live windows' keys
      "s_stream_distinct" -> (d =>
        SparkEntry.queries("s_stream_distinct")(spark, d).count()),
      // hierarchical-CDF KS: only the bucket frame crosses a partition
      "a38_ks_drift" -> (d =>
        SparkEntry.queries("a38_ks_drift")(spark, d).count()),
      // r11 fourth wave. 64-key agg with map-side combine
      "a37_hll_distinct" -> (d =>
        SparkEntry.queries("a37_hll_distinct")(spark, d).count()),
      // 64 registers per live window through 4 chunked triggers
      "s_stream_hll" -> (d =>
        SparkEntry.queries("s_stream_hll")(spark, d).count()),
      // r11 third wave. one narrow HOF pass per doc
      "t_augment" -> (d =>
        SparkEntry.queries("t_augment")(spark, d).count()),
      // narrow regexp passes
      "t_code_detect" -> (d =>
        SparkEntry.queries("t_code_detect")(spark, d).count()),
      // posexplode into dim-keyed agg (64 keys at any corpus size)
      "e_embed_qc" -> (d =>
        SparkEntry.queries("e_embed_qc")(spark, d).count()),
      // one narrow cosine scan per audited prefix
      "e_prefix_recall" -> (d =>
        SparkEntry.queries("e_prefix_recall")(spark, d).count()),
      // native byte-loop hash + 16-bit band buckets
      "m_phash_neardup" -> (d =>
        SparkEntry.queries("m_phash_neardup")(spark, d).count()),
      // frame ring state, 4 chunked triggers
      "s_stream_mad" -> (d =>
        SparkEntry.queries("s_stream_mad")(spark, d).count()),
      // prefix-sum SSE, one key exchange
      "w32_changepoint" -> (d =>
        SparkEntry.queries("w32_changepoint")(spark, d).count()),
      // r11 second wave. blocked FS linkage: Σ|block|² pairs — the
      // sweep's scale lesson is the BLOCK WIDTH: at 30× the query's
      // last-3-digit blocks exceed the 10k-pair cap and drop WHOLE
      // (observable, 0 rows — the guard working as designed), so the
      // sweep measures a scale-appropriate last-5-digit block
      "j16_linkage(blk5)" -> (d =>
        SparkEntry.linkageScored(spark, d, blockLen = 5)
          .filter(col("decision") =!= "non_match").count()),
      // bounded peel rounds over the (sublinear) term graph
      "g_kcore" -> (d =>
        SparkEntry.queries("g_kcore")(spark, d).count()),
      // damped PageRank over the term co-occurrence graph (the
      // purchase graph's tables aren't staged): ranks distributed,
      // two unrolled rounds
      "g_pagerank(terms)" -> (d => graft.ops.Graphs.pageRank(
        graft.text.TextOps.gloveCooccur(
          Tables.load(spark, d, "documents"), "text",
          window = 2, minCount = 5),
        "t1", "t2", col("n"), damping = 0.85, iters = 2).count()),
      // one corpus pass then candidate-bounded rounds
      "e_mmr_rerank" -> (d =>
        SparkEntry.queries("e_mmr_rerank")(spark, d).count()),
      // profile frame (keys x 24) + holt's one key exchange
      "w30_holt_seasonal" -> (d =>
        SparkEntry.queries("w30_holt_seasonal")(spark, d).count()),
      // r12 wave. distinct-score frame + bucketed prefix hierarchy
      "a40_roc_auc" -> (d =>
        SparkEntry.queries("a40_roc_auc")(spark, d).count()),
      // one bin-keyed hash agg, bins-sized output
      "a41_calibration" -> (d =>
        SparkEntry.queries("a41_calibration")(spark, d).count()),
      // two cells-frame chi2 screens + a 10-row BH window
      "a43_bh_fdr" -> (d =>
        SparkEntry.queries("a43_bh_fdr")(spark, d).count()),
      // curve-sized risk-set windows off one subject agg
      "w34_logrank" -> (d =>
        SparkEntry.queries("w34_logrank")(spark, d).count()),
      // adjacent-pair explode -> distinct-bigram agg + marginals
      "t_pmi_colloc" -> (d =>
        SparkEntry.queries("t_pmi_colloc")(spark, d).count()),
      // one n*d^2 narrow product pass; 3x6 rounds + 2 deflations all
      // on the d^2-cell frame (covers the retired k=1 e_pca_top too)
      "e_pca_topk" -> (d =>
        SparkEntry.queries("e_pca_topk")(spark, d).count()),
      // basis fit (n*d^2) + the n*d*k broadcast-basis projection
      "e_pca_project" -> (d =>
        SparkEntry.queries("e_pca_project")(spark, d).count()),
      // r12 second wave. cells-frame contingency + marginal join
      "a45_kappa" -> (d =>
        SparkEntry.queries("a45_kappa")(spark, d).count()),
      // units agg -> distinct-total Prefix hierarchy
      "a46_gini" -> (d =>
        SparkEntry.queries("a46_gini")(spark, d).count()),
      // two distinct-value Prefix hierarchies + rank-map joins back
      // to the corpus pair frame — the heaviest r12b shape
      "a47_spearman" -> (d =>
        SparkEntry.queries("a47_spearman")(spark, d).count()),
      // distinct-score frame + Prefix hierarchy, pico-grid terms
      "a48_avg_precision" -> (d =>
        SparkEntry.queries("a48_avg_precision")(spark, d).count()),
      // per-(group, distinct-score) counts + per-group prefix
      "a49_conformal" -> (d =>
        SparkEntry.queries("a49_conformal")(spark, d).count()),
      // one hash agg to the groups frame + 1-row broadcast
      "a50_fairness" -> (d =>
        SparkEntry.queries("a50_fairness")(spark, d).count()),
      // two distinct aggs + TakeOrdered sketches; k-row joins after
      "a51_kmv" -> (d =>
        SparkEntry.queries("a51_kmv")(spark, d).count()),
      // 3 rounds of neighbor join + argmax window over the term
      // graph (graph size is sublinear in the spliced corpus)
      "g_labelprop" -> (d =>
        SparkEntry.queries("g_labelprop")(spark, d).count()),
      // sum-of-block-squares pairs + banded levenshtein; output-driven
      "j19_edit_join" -> (d =>
        SparkEntry.queries("j19_edit_join")(spark, d).count()),
      // the blocking-width lever (the j16 blk5 lesson): at 30x the
      // nation block is no longer scale-appropriate — nation + the
      // leading name digits keeps block membership flat per replica
      // the shipped j19 is now the blk4 key; this variant keeps the
      // COARSE nation-only block measurable as the anti-pattern
      // comparison row (the round-12 sweep's ~900x candidate growth)
      "j19_nation_coarse_key" -> (d => {
        val c = Tables.load(spark, d, "customer")
        graft.ops.Linkage.editDistanceJoin(c, c,
            col("a_c_nationkey"), col("b_c_nationkey"),
            "c_name", "c_name", maxDist = 2)
          .filter(col("a_c_custkey") < col("b_c_custkey")).count()
      }),
      // two complementary fine passes + pair-union dedup + the
      // banded tail — the multi-pass recall-recovery shape
      "j20_multipass" -> (d =>
        SparkEntry.queries("j20_multipass")(spark, d).count()),
      // n*d explode into the dim-keyed agg + D-frame reduce
      "e_centroid_drift" -> (d =>
        SparkEntry.queries("e_centroid_drift")(spark, d).count()),
      // r12 third wave. 99 hash re-labelings of the corpus — the
      // stated honest cost — into a replica-keyed map-side combine
      "a52_randomization" -> (d =>
        SparkEntry.queries("a52_randomization")(spark, d).count()),
      // bins-frame PAV: corpus collapses to 10 bins in one agg
      "a53_isotonic" -> (d =>
        SparkEntry.queries("a53_isotonic")(spark, d).count()),
      // 100 Poisson-weight passes into the replica-keyed combine
      "a54_bootstrap" -> (d =>
        SparkEntry.queries("a54_bootstrap")(spark, d).count()),
      // |A|x|B| pair frame by contract over two label slices
      "e_mutual_margin" -> (d =>
        SparkEntry.queries("e_mutual_margin")(spark, d).count()),
      // the shortlist-fed twin: |A u B| x nprobe x cellTarget
      // IVF shortlists both directions + the k-bounded tail. The
      // shipped query derives nlist = nlistFor(n) (cells bounded at
      // 64 — the deployment contract, r13's measured-flat variant),
      // so the query row IS the scale-safe row
      "e_mutual_margin_ivf" -> (d =>
        SparkEntry.queries("e_mutual_margin_ivf")(spark, d).count()),
      // key-hash agg + TakeOrdered tail
      "a55_decayed_topk" -> (d =>
        SparkEntry.queries("a55_decayed_topk")(spark, d).count()),
      // daily agg to a 31-point series frame, pairs there
      "a56_mann_kendall" -> (d =>
        SparkEntry.queries("a56_mann_kendall")(spark, d).count()),
      // unit-frame agg + one moment reduce
      "a57_cuped" -> (d =>
        SparkEntry.queries("a57_cuped")(spark, d).count()),
      // one corpus agg to the bins frame; 5 scalings on bins^2
      "a59_sinkhorn" -> (d =>
        SparkEntry.queries("a59_sinkhorn")(spark, d).count()),
      // one tokenize-explode + term hash agg + a single-row agg
      "t_vocab_coverage" -> (d =>
        SparkEntry.queries("t_vocab_coverage")(spark, d).count()),
      // (doc, ord, gram) aggs both sides + one gram-keyed join,
      // collapsing to a 4-row frame — linear in n-gram volume
      "t_bleu" -> (d =>
        SparkEntry.queries("t_bleu")(spark, d).count()),
      // same substrate, agg keyed per (doc, ord)
      "t_rouge" -> (d =>
        SparkEntry.queries("t_rouge")(spark, d).count()),
      // two id-shifted corpus joins to judgments, ONE cells hash agg,
      // then MM rounds on the players-sized frame only
      "a78_bradley_terry" -> (d =>
        SparkEntry.queries("a78_bradley_terry")(spark, d).count()),
      // per GD step: one subjects scan -> distinct-duration frame +
      // Prefix hierarchy + a 1-row gradient collect
      "w38_cox" -> (d =>
        SparkEntry.queries("w38_cox")(spark, d).count()),
      // one explode, two hash aggs; curve-sized Prefix + OLS after
      "t_heaps" -> (d =>
        SparkEntry.queries("t_heaps")(spark, d).count()),
      // day-frame series; two Prefix hierarchies + TakeOrdered(1)
      "a67_pettitt" -> (d =>
        SparkEntry.queries("a67_pettitt")(spark, d).count()),
      // one orders scan to the priority x status cells frame;
      // entropies on cells (r14: orders staging closes the r13 gap)
      "a70_theil" -> (d =>
        SparkEntry.queries("a70_theil")(spark, d).count()),
      // one orders scan to the dose frame; exact integer moments
      "a72_trend" -> (d =>
        SparkEntry.queries("a72_trend")(spark, d).count()),
      // the capstone: grid explode + 2 staleness-bounded asof
      // channels + rolling window + label join + hash split, every
      // stage keyed on the encounter (one exchange family); events
      // staging adds NEW encounters per replica, so rows grow
      // linearly and per-encounter grids stay fixed
      "clif_blocked_dataset" -> (d =>
        SparkEntry.queries("clif_blocked_dataset")(spark, d).count()),
      // the capstone at CLIF-realistic channel WIDTH (r14 verdict #5):
      // 15 channels = 5 event types × 3 event-id buckets — the
      // reference's real table set implies dozens of channels
      // (vitals×10, labs×8+, meds, scores). Each added channel costs
      // one channel-sized filtered dedup branch; the grid-sized LOCF
      // work stays ONE window pass (all `last` expressions share one
      // window spec) regardless of width, so sec/channel should be
      // ~flat vs the 2-channel row above
      "clif_blocked_dataset(wide15)" -> (d =>
        wideBlockedDataset(spark, d).count()),
      // the incrementally-maintained capstone: two AvailableNow
      // invocations (full corpus, then a 1-of-8-bucket late cohort).
      // Invocation 2's work is ∝ touched buckets, so the end-to-end
      // ratio should track ONE batch build + fixed streaming floor
      "clif_blocked_incremental" -> (d =>
        SparkEntry.queries("clif_blocked_incremental")(spark, d)
          .count()),
      // r14 catalog-gate closures: every >=2s batch query carries a
      // sweep row (streaming floor queries are measured by the state
      // sweeps instead)
      // one user-keyed exchange: per-user sorted arrays + HOF cascade
      "w14_funnel_latency" -> (d =>
        SparkEntry.queries("w14_funnel_latency")(spark, d).count()),
      // anchor/positive/negative triplets off bucketed candidates
      "t_contrastive_triplets" -> (d =>
        SparkEntry.queries("t_contrastive_triplets")(spark, d).count()),
      // merge-table broadcast; encode is a per-doc HOF fold
      "t_bpe_encode" -> (d =>
        SparkEntry.queries("t_bpe_encode")(spark, d).count()),
      // one partial+final hash agg of exact decimal moments
      "a16_corr" -> (d =>
        SparkEntry.queries("a16_corr")(spark, d).count()),
      // Dawid–Skene EM: rounds × (one labels⋈posteriors shuffle into
      // the tiny confusion agg + one broadcast-π fan-out into the
      // (i, c) product agg); per-round posteriors checkpoint is the
      // iteration state — linear in judgments
      "a79_dawid_skene" -> (d =>
        SparkEntry.queries("a79_dawid_skene")(spark, d).count()),
      "a80_annotator_quality" -> (d =>
        SparkEntry.queries("a80_annotator_quality")(spark, d).count()),
      // domain-quota capstone: PSL key (row-local candidates +
      // broadcast rules) -> doc_id join back -> per-domain cap
      // window -> sharded mix windows; linear in docs, every window
      // keyed by the 4-domain x shard grid
      "t_domain_mix" -> (d =>
        SparkEntry.queries("t_domain_mix")(spark, d).count()),
      // link graph: one codegen'd href extract + host edges hash agg
      // (linear in docs), then 2 PageRank rounds over the fixed
      // 4-node domain graph - the wall is round fixed overhead
      "t_link_graph" -> (d =>
        SparkEntry.queries("t_link_graph")(spark, d).count()),
      // relative-link graph: per-page base/href extraction below one
      // bounded (doc_id,text) shuffle, ONE codegen'd RFC 3986
      // resolve per link, host-edge hash agg — linear in links
      "t_link_graph_rel" -> (d =>
        SparkEntry.queries("t_link_graph_rel")(spark, d).count()),
      // frontier capstone: resolve (row-local) -> robots broadcast
      // join + packed-priority hash agg -> PSL domain walk -> cap +
      // rank windows keyed by the 4-domain grid; linear in links,
      // output quota-bounded
      "t_frontier" -> (d =>
        SparkEntry.queries("t_frontier")(spark, d).count()),
      // SCD2 history build over orders: key-hash join + per-key
      // window, linear in the staged order count
      "s14_scd2" -> (d =>
        SparkEntry.queries("s14_scd2")(spark, d).count()),
      // capstone part 2: the blocked-dataset grid + per-encounter
      // feature agg + 3 unrolled GD scans (one (d+1)-sum hash agg
      // each) + the exact sign-test eval — iters x one pass, linear
      // in the staged encounter count
      "clif_sofa_hourly" -> (d =>
        SparkEntry.queries("clif_sofa_hourly")(spark, d).count()),

      "clif_mortality_model" -> (d =>
        SparkEntry.queries("clif_mortality_model")(spark, d).count()),
      // capstone part 3: same walk + a 3-scalar percentile frame
      // broadcast into the quartile bucketing - no global sort
      "clif_model_calibration" -> (d =>
        SparkEntry.queries("clif_model_calibration")(spark, d).count()),
      // personalized PageRank over the customer->supplier purchase
      // graph: replicas add DISJOINT graph components (key offsets
      // consistent across customer/orders/lineitem), so the unrolled
      // rounds stay edge-linear
      "g_ppr" -> (d =>
        SparkEntry.queries("g_ppr")(spark, d).count()),
      // one assignment pass + label-majority agg on cluster cells
      "e_cluster_purity" -> (d =>
        SparkEntry.queries("e_cluster_purity")(spark, d).count()),
      // residual IVFADC: coarse cells + per-cell residual PQ codes;
      // probe scores codes only
      "e_ivfpq_residual" -> (d =>
        SparkEntry.queries("e_ivfpq_residual")(spark, d).count()),
      // CC over Fellegi-Sunter matched pairs: pointer-jumping rounds,
      // linear in the blocked pair volume
      "j17_entity_clusters" -> (d =>
        SparkEntry.queries("j17_entity_clusters")(spark, d).count()),
      // cluster-then-pick-canonical: rides t_dedup_clusters' staged
      // pair volume (30x ceiling, the pairVolumeOps caveat)
      "t_dedup_keep_best" -> (d =>
        SparkEntry.queries("t_dedup_keep_best")(spark, d).count()),
      // the psi plan: broadcast percentile row + two narrow passes
      "a68_hellinger" -> (d =>
        SparkEntry.queries("a68_hellinger")(spark, d).count()),
      // one corpus hash agg to the k-group frame, scalars after
      "a69_anova" -> (d =>
        SparkEntry.queries("a69_anova")(spark, d).count()),
      // a70_theil is NOT swept: it reads orders, which the staging
      // does not replicate — its cells-agg shape is a30's, already
      // covered by the events-based aggs here.
      // subject hash agg to the KM curve; curve-sized fold after
      "w37_rmst" -> (d =>
        SparkEntry.queries("w37_rmst")(spark, d).count()),
      // one conditional user agg to two scalars
      "a71_mcnemar" -> (d =>
        SparkEntry.queries("a71_mcnemar")(spark, d).count()),
      // (source, term) agg; vocab-frame joins + per-group window
      "t_distinct_terms" -> (d =>
        SparkEntry.queries("t_distinct_terms")(spark, d).count()),
      // vocab-sized term self-join over the k^2/2 source pairs
      "t_source_js" -> (d =>
        SparkEntry.queries("t_source_js")(spark, d).count()),
      // (doc, category) agg off the stacked 3-rater frame
      "a73_fleiss" -> (d =>
        SparkEntry.queries("a73_fleiss")(spark, d).count()),
      // two distinct projections + one id join + one agg
      "a74_capture" -> (d =>
        SparkEntry.queries("a74_capture")(spark, d).count()),
      // per-row hash + compare, no shuffle; audit agg after
      "t_leakage_split" -> (d =>
        SparkEntry.queries("t_leakage_split")(spark, d).count()),
      // (doc, category) agg + pairability filter, scalars after
      "a77_krippendorff" -> (d =>
        SparkEntry.queries("a77_krippendorff")(spark, d).count()),
      // one conditional user agg into scalars
      "a76_power" -> (d =>
        SparkEntry.queries("a76_power")(spark, d).count()),
      // shares broadcast + one conditional corpus agg
      "a75_offpolicy" -> (d =>
        SparkEntry.queries("a75_offpolicy")(spark, d).count()),
      // three vocab-scale LM aggs + the target-explode joins
      "t_cross_surprise" -> (d =>
        SparkEntry.queries("t_cross_surprise")(spark, d).count()),
      // the QUERY's brute shortlist is quadratic by contract (the
      // eval harness); the shipped IVF twin derives nlist =
      // nlistFor(n) (cells bounded at 64), so its query row IS the
      // deployment-contract row
      "e_ndcg" -> (d =>
        SparkEntry.queries("e_ndcg")(spark, d).count()),
      "e_ndcg_ivf" -> (d =>
        SparkEntry.queries("e_ndcg_ivf")(spark, d).count()),
      // one narrow pass (dx*dy + dx^2 + dy^2 products) into the
      // cells frame — the honest Gram cost
      "e_cka" -> (d =>
        SparkEntry.queries("e_cka")(spark, d).count()),

      "t_chrf" -> (d =>
        SparkEntry.queries("t_chrf")(spark, d).count()),

      "e_binary_topk" -> (d =>
        SparkEntry.queries("e_binary_topk")(spark, d).count()),

      "e_binary_recall" -> (d =>
        SparkEntry.queries("e_binary_recall")(spark, d).count()),
      // phrase explode + vocab-scale agg + TakeOrdered tail
      "t_rake" -> (d =>
        SparkEntry.queries("t_rake")(spark, d).count()),
      // one key-hash exchange, per-key prefix-max windows
      "w36_interval_union" -> (d =>
        SparkEntry.queries("w36_interval_union")(spark, d).count()),
      // corpus hash agg to the distinct-score frame + Prefix
      "a62_uplift" -> (d =>
        SparkEntry.queries("a62_uplift")(spark, d).count()),
      // period-frame cumulative chains off one corpus agg
      "a63_msprt" -> (d =>
        SparkEntry.queries("a63_msprt")(spark, d).count()),
      // one narrow projection + global agg with map-side partials
      "a60_dataset_fp" -> (d =>
        SparkEntry.queries("a60_dataset_fp")(spark, d).count()),
      // Lloyd assignment + an n x k broadcast crossJoin
      "e_silhouette" -> (d =>
        SparkEntry.queries("e_silhouette")(spark, d).count()),
      // groups-frame agg + 1-row broadcast
      "a58_temperature_mix" -> (d =>
        SparkEntry.queries("a58_temperature_mix")(spark, d).count()),
      // frame-bounded per-row sort, one key exchange
      "w31_rolling_mad" -> (d =>
        SparkEntry.queries("w31_rolling_mad")(spark, d).count()),
      // one category window pair + broadcast scalar
      "a35_loo_encode" -> (d =>
        SparkEntry.queries("a35_loo_encode")(spark, d).count()),
      // r11: pair stage is Σ C(|basket|,2) — baskets here are
      // (user, day) event-type sets, so new replicas add BASKETS
      // (catalog fixed, the retail scale model) and the cap bounds
      // any single bot basket; expect ~linear in baskets
      "w18_assoc(events,cap)" -> (d => graft.ops.Analytics
        .associationRules(
          Tables.load(spark, d, "events")
            .select(concat_ws("#", col("user_id"),
              to_date(col("ts"))).as("basket"), col("event_type")),
          "basket", "event_type", minPairSupport = 3,
          maxBasketSize = Some(100)).count()),
      // asymmetric prefix filter; Ω(output) like every similarity
      // join — splice thirds sit at ~1/3 containment, below the 0.6
      // threshold, so output stays clique-bounded
      "t_containment_join" -> (d =>
        SparkEntry.queries("t_containment_join")(spark, d).count()),
      // two scale-6 longs of state per key, 4 chunked triggers
      "s_stream_holt" -> (d =>
        SparkEntry.queries("s_stream_holt")(spark, d).count()),
      // bounded per-key ring state (lookback scale-6 longs + squares)
      "s_stream_zscore" -> (d =>
        SparkEntry.queries("s_stream_zscore")(spark, d).count()),
      // distinct (key, day) + bounded 7-day explode
      "a28_dau_wau" -> (d =>
        SparkEntry.queries("a28_dau_wau")(spark, d).count()),
      // one exact scan into TakeOrdered + the PQ serve
      "e_pq_recall" -> (d =>
        SparkEntry.queries("e_pq_recall")(spark, d).count()),
      // O(stages) booleans per key, 4 chunked triggers + tiny post-agg
      "s_stream_funnel" -> (d =>
        SparkEntry.queries("s_stream_funnel")(spark, d).count()),
      // hash on distinct vocab only; term-keyed join back
      "t_feature_hash" -> (d =>
        SparkEntry.queries("t_feature_hash")(spark, d).count()),
      // one broadcast percentile row, two narrow binning passes
      "a29_psi" -> (d =>
        SparkEntry.queries("a29_psi")(spark, d).count()),
      // three window aggs share one key frame; new users only
      "w28_roll_zscore" -> (d =>
        SparkEntry.queries("w28_roll_zscore")(spark, d).count()),
      // sessionize exchange reused by path agg; path count + TakeOrdered
      "w29_top_paths" -> (d =>
        SparkEntry.queries("w29_top_paths")(spark, d).count()),
      // one hash agg over a fixed 7x24 grid
      "a27_seasonal" -> (d =>
        SparkEntry.queries("a27_seasonal")(spark, d).count()),
      // bucketed lag + bucket-frame border pass; one distinct
      "a31_seq_gaps" -> (d =>
        SparkEntry.queries("a31_seq_gaps")(spark, d).count()),
      // frozen reference literals; O(bins) longs per live day window
      "s_stream_psi" -> (d =>
        SparkEntry.queries("s_stream_psi")(spark, d).count()),
      // C(langs,2) output; corpus touched once (tokenize + two aggs)
      "t_jsd" -> (d =>
        SparkEntry.queries("t_jsd")(spark, d).count()),
      // one contingency-cell agg (event_type × weekday, ≤ 7·|types|
      // cells); everything downstream runs on the cell frame
      "a30_chisq(events)" -> (d => graft.ops.Quality
        .chiSquareIndependence(
          Tables.load(spark, d, "events")
            .withColumn("dow", dayofweek(col("ts"))),
          "event_type", "dow").count()),
      // blocked JW fuzzy join over the replica-grown customer-name
      // vocabulary: 16-char prefix blocks cap block size at 100 names
      // regardless of corpus size, so cost = names × in-block pairs
      // grows ∝ factor (names² never materializes)
      "j14_fuzzy(cust names)" -> (d => graft.ops.Joins.fuzzyMatchJoin(
        Tables.load(spark, d, "customer").select(col("c_name")),
        "c_name", n => substring(n, 1, 16), threshold = 0.95,
        maxBucket = Some(200)).count()),
      // constant-DENSITY scale model (the honest one for a spatial
      // join: a bigger map, same density — box side ∝ √factor keeps
      // rows/cell flat, so output and cost both grow ∝ factor; a
      // fixed box would densify and measure the output's quadratic
      // growth, not the operator)
      "j13_eps_join(const density)" -> { d =>
        val f = if (d == base) 1 else factor
        val m = (1000L * math.sqrt(f.toDouble)).toLong
        def coord(kc: org.apache.spark.sql.Column, mul: Long) =
          pmod(kc.cast("long") * lit(mul), lit(m)).cast("double") /
            lit(10.0)
        val c = Tables.load(spark, d, "customer")
        val a = c.select(col("c_custkey").as("aid"),
          coord(col("c_custkey"), 7919L).as("ax"),
          coord(col("c_custkey"), 104729L).as("ay"))
        val b = c.select(col("c_custkey").as("bid"),
          coord(col("c_custkey"), 4409L).as("bx"),
          coord(col("c_custkey"), 9973L).as("by"))
        graft.ops.Joins.epsilonDistanceJoin(a, b, "ax", "ay",
          "bx", "by", 1.5).count()
      })

    // Pair-volume ops are QUADRATIC in this staging's recycled content
    // by construction (every source third appears in ~3·factor splices
    // — see BENCH_SF1.md): beyond ~30× their candidate/edge sets alone
    // exceed the sandbox's disk, measuring the staging, not the
    // operator (a real factor× corpus adds new content; its clique
    // rates are scale-invariant). 30× stands as their scale evidence;
    // at higher factors only the ops whose cost is not pair-volume-
    // driven remain meaningful.
    val pairVolumeOps =
      Set("t_jaccard_join", "t_dedup_clusters", "t_decontaminate_bloom",
        "t_dedup_keep_best",
        // nearDuplicates-fed: its triplet count rides the staged pair
        // volume (measured 325x pairs at 100x for 100x data)
        "t_contrastive_triplets")
    val runnable = {
      val r =
        if (factor <= 30) ops
        else {
          println(s"(skipping ${pairVolumeOps.mkString(", ")} at $factor×: " +
            "pair volume is quadratic in the staging's content reuse; " +
            "30× is their ceiling — see BENCH_SF1.md)")
          ops.filterNot(o => pairVolumeOps(o._1))
        }
      if (onlyOps.isEmpty) r
      else r.filter(o => onlyOps.exists(o._1.contains))
    }

    println(s"| op | rows x1 | sec x1 | rows x$factor | sec x$factor | " +
      "ratio | ratio/factor |")
    println("|---|---|---|---|---|---|---|")
    runnable.foreach { case (name, run) =>
      run(base) // warm: JIT/codegen paid before any timed number
      val (secBase, nBase) = timeIt(run(base))
      val (secScaled, nScaled) = timeIt(run(scaled))
      val ratio = secScaled / secBase
      val perFactor = ratio / factor
      val flag = if (perFactor > 1.3) " **SUPER-LINEAR**" else ""
      println(f"| $name | $nBase | $secBase%.2f | $nScaled | " +
        f"$secScaled%.2f | ${ratio}%.2f | ${perFactor}%.2f$flag |")
    }
    spark.stop()
  }
}
