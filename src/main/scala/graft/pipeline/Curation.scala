package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Training-data curation operators (SURVEY §2E): the selection /
  * mixing / hygiene passes a large-scale pretraining pipeline runs
  * between raw crawl and tokenizer. All are pure map or
  * broadcast-join shapes — no all-pairs work anywhere — and all are
  * deterministic (hash-based, no RNG state), so a 100 TB run is
  * reproducible and resumable, and every one is oracle-checkable.
  */
object Curation {

  /** `substr(md5(salt:key),1,4) < threshold` — the deterministic
    * sampling predicate. Fixed-width lowercase hex compares
    * lexicographically = numerically, identically in every engine, so
    * the same doc set is selected by Spark and the oracle. Resolution
    * is 1/65536 ≈ 1.5 bp.
    */
  /** The shared salted hash-prefix expression — ONE definition so
    * [[sampleHash]] and [[mixSources]] (and their oracles) can never
    * decorrelate.
    */
  def hashPrefix(key: Column, salt: String): Column =
    substring(md5(concat(lit(salt), lit(":"), key.cast("string"))), 1, 4)

  def hashBelow(key: Column, salt: String, rateBp: Long): Column =
    hashPrefix(key, salt) < thresholdHex(rateBp)

  /** SQL mirror of [[hashBelow]] for the DuckDB oracle. */
  def hashBelowSql(keyExpr: String, salt: String, rateBp: Long): String =
    s"substr(md5('$salt:' || CAST($keyExpr AS VARCHAR)), 1, 4) < '${thresholdHex(rateBp)}'"

  /** Fixed-width lowercase hex threshold for a basis-point rate,
    * clamped to [0, 10000]. At 10000 bp the threshold must sort ABOVE
    * every 4-char hex string — `"g"` does (every hex digit < 'g'),
    * where the naive 5-digit `"10000"` would sort below almost
    * everything. At ≤ 0 bp it is `"0"`, below every hash prefix
    * (a NEGATIVE rate formatted with %04x would be 16-char
    * two's-complement hex and silently select 100%).
    */
  def thresholdHex(rateBp: Long): String =
    if (rateBp >= 10000L) "g"
    else if (rateBp <= 0L) "0"
    else f"${rateBp * 65536L / 10000L}%04x"

  /** Deterministic hash sampling (train/eval splits, corpus
    * downsampling): keep ≈`rateBp`/10000 of documents, selected by a
    * salted content-independent hash of the key. Pure map — no
    * shuffle, no RNG, embarrassingly parallel; changing `salt` draws
    * an independent sample, and the same (salt, rate) always selects
    * the same documents — the property that makes 100 TB reruns and
    * incremental ingestion consistent.
    */
  def sampleHash(spark: SparkSession, dir: String,
                 rateBp: Long = 2000, salt: String = "s0"): DataFrame =
    Tables.documents(spark, dir)
      .filter(hashBelow(col("doc_id"), salt, rateBp))
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")

  /** Leakage-safe train/val/test split: the split key is the NEAR-DUP
    * CLUSTER representative ([[Dedup.clusters]]), not the document —
    * every member of a near-duplicate cluster lands in the same split,
    * so a test document can never have a near-copy in train (the
    * contamination mode a per-doc hash split silently allows; cf. the
    * train-test overlap analyses in the GPT-2/GPT-3 and C4 corpus
    * papers). Assignment is the same salted md5-prefix predicate as
    * [[sampleHash]] on the rep id: deterministic, rerun-stable, and
    * oracle-expressible. Scale shape = the cluster pass it reuses
    * (LSH-bounded edges + O(log d) components) plus one pure map.
    */
  def splitAssign(spark: SparkSession, dir: String,
                  salt: String = "sp0",
                  trainBp: Long = 8000, valBp: Long = 1000): DataFrame = {
    val hp = hashPrefix(col("rep"), salt)
    // read the SHARED cluster-labels artifact (computed once per
    // session/corpus and refreshed by the dedup_clusters pass) —
    // split assignment is a pure map over those labels, so its
    // marginal cost is independent of the components iteration
    Dedup.clusterLabels(spark, dir)
      .withColumn("split",
        when(hp < lit(thresholdHex(trainBp)), lit("train"))
          .when(hp < lit(thresholdHex(trainBp + valBp)), lit("val"))
          .otherwise(lit("test")))
      .orderBy("doc_id")
  }

  /** Stratified sampling: EXACTLY `k` documents per (lang, source)
    * stratum (or the whole stratum if smaller), selected by salted-
    * hash order — deterministic, content-independent, and unbiased
    * within each stratum, unlike [[sampleHash]]'s global rate which
    * under-represents small strata. The per-stratum top-k is a rank
    * window, which [[graft.plans.TopKPerGroup]] executes as bounded
    * heaps (k rows of state per stratum, no per-stratum sort) — one
    * shuffle on the stratum key at any scale.
    */
  def sampleStratified(spark: SparkSession, dir: String,
                       k: Int = 10, salt: String = "strat"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang", "source")
      .orderBy(md5(concat(lit(salt), lit(":"), col("doc_id").cast("string"))),
        col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("doc_id", "lang", "source", "rn")
      .orderBy("doc_id")
  }

  /** Diversity sampling over the embedding corpus: partition the
    * vector space into sign-bit buckets (bit `d` of `bucket` = sign
    * of dimension `d`, `bits` dimensions → 2^bits cells — the
    * zero-training deterministic cousin of an IVF cell) and keep at
    * most `k` salted-hash-selected vectors per cell. Where
    * [[sampleHash]] preserves the corpus DISTRIBUTION, this bounds
    * per-region representation — dense regions can't crowd out rare
    * ones, the property embedding-coverage subsets are sampled for.
    *
    * Plan shape: the bucket is a pure per-row expression over the
    * first `bits` components (no model state, no join); the per-cell
    * top-k is a rank window [[graft.plans.TopKPerGroup]] executes as
    * bounded heaps — one shuffle on the cell key, k rows of state per
    * cell. At 100 TB `bits` grows to keep cells executor-sized
    * (occupancy halves per bit on centered data); the gate default of
    * 4 keeps cells ~40-deep at sf0.01 so the per-cell cap actually
    * binds there.
    */
  def sampleDiversity(spark: SparkSession, dir: String,
                      bits: Int = 4, k: Int = 8,
                      salt: String = "div"): DataFrame = {
    val bucket = (0 until bits).map { d =>
      when(element_at(col("embedding"), d + 1) > lit(0f), lit(1L << d))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket")
      .orderBy(md5(concat(lit(salt), lit(":"), col("vec_id").cast("string"))),
        col("vec_id"))
    Tables.embeddings(spark, dir)
      .withColumn("bucket", bucket)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("vec_id", "bucket", "label", "rn")
      .orderBy("vec_id")
  }

  /** Source mixing (training-mixture weights): per-source keep rates,
    * e.g. upweight curated sources and downsample crawl. The rate
    * lookup is a broadcast dim joined on `source` (the 100 TB shape —
    * never a per-row UDF closure over a map), then the same
    * deterministic predicate as [[sampleHash]].
    */
  def mixSources(spark: SparkSession, dir: String,
                 rates: Map[String, Long], defaultBp: Long = 2500,
                 salt: String = "mix"): DataFrame = {
    // thresholds precomputed to hex strings: the dim carries the
    // comparison value directly, nothing numeric happens at runtime
    val rateDim = spark.createDataFrame(
      rates.toSeq.map { case (s, bp) => (s, thresholdHex(bp)) })
      .toDF("source", "thr")
    Tables.documents(spark, dir)
      .join(broadcast(rateDim), Seq("source"), "left")
      .withColumn("thr", coalesce(col("thr"), lit(thresholdHex(defaultBp))))
      .filter(hashPrefix(col("doc_id"), salt) < col("thr"))
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Eval decontamination (the n-gram overlap check run before
    * training: any document sharing a character `n`-gram with the
    * benchmark set is flagged). The benchmark here is a deterministic
    * subset (`doc_id % 97 = 0`) standing in for an external eval file.
    *
    * 100 TB shape: benchmark n-gram sets are tiny (benchmarks are
    * megabytes) → broadcast hash join against the exploded corpus
    * grams; the corpus side is one explode + one aggregation on
    * doc_id, both linear. Emits (doc_id, n_shared distinct grams) for
    * flagged docs — the anti-join against this set is the clean
    * corpus.
    */
  def decontaminate(spark: SparkSession, dir: String, n: Int = 13): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.normText(col("text")).as("txt"))
    val isBench = col("doc_id") % 97 === 0
    val grams = (d: DataFrame) => d.select(col("doc_id"),
      explode(Dedup.shingles("txt", n)).as("gram"))
    val benchGrams = grams(docs.filter(isBench))
      .select("gram").distinct()
    grams(docs.filter(!isBench))
      .join(broadcast(benchGrams), Seq("gram"))
      .groupBy("doc_id")
      .agg(countDistinct("gram").as("n_shared"))
      .orderBy("doc_id")
  }

  /** [[decontaminate]] at bloom-filter cost — the shape that survives
    * when the benchmark n-gram set outgrows a comfortable broadcast
    * hash join. The benchmark grams fold into a `bits`-bit Bloom
    * bitmap (k probe positions by double hashing; the two base hashes
    * are computed by Spark itself, so driver and executors can never
    * disagree); the corpus side then runs NO JOIN AT ALL — each gram
    * tests k bits of an 8 KB plan literal inside whole-stage codegen.
    * At 100 TB this turns decontamination from (corpus grams ⋈
    * benchmark grams) into a pure map over the corpus scan.
    *
    * Bloom semantics: no false negatives — every document the exact
    * [[decontaminate]] flags is flagged here (PipelineSpec asserts the
    * superset), plus a bounded false-positive tail (~(1-e^{-kn/m})^k;
    * defaults give <1% at 10k benchmark grams). *Rows-only* (the
    * bitmap is xxhash64-derived, engine-specific); the FP bound and
    * superset property are the gates.
    */
  def decontaminateBloom(spark: SparkSession, dir: String, n: Int = 13,
                         bits: Int = 1 << 16, k: Int = 4): DataFrame = {
    require(Integer.bitCount(bits) == 1, "bits must be a power of two")
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.normText(col("text")).as("txt"))
    val isBench = col("doc_id") % 97 === 0
    def grams(d: DataFrame) = d.select(col("doc_id"),
      explode(Dedup.shingles("txt", n)).as("gram"))
    // double hashing: position i = h1 + i·h2 (mod bits), with BOTH
    // hashes pre-reduced mod bits so the position arithmetic can
    // never overflow int64 under ANSI mode (raw xxhash64 values span
    // the full range; i·h2 on the raw value would raise). Both base
    // hashes evaluate in Spark (the '#' suffix decorrelates h2), so
    // the driver-side bitmap build and the executor-side probes use
    // the identical hash function by construction.
    val h1 = pmod(xxhash64(col("gram")), lit(bits.toLong))
    val h2 = pmod(xxhash64(concat(col("gram"), lit("#"))), lit(bits.toLong))
    // benchmark side: distinct grams → (h1, h2) pairs, collected and
    // folded into the bitmap. Benchmarks are MBs — this is the same
    // data a broadcast join would ship, compressed to bits/8 bytes.
    val words = new Array[Long](bits / 64)
    grams(docs.filter(isBench)).select("gram").distinct()
      .select(h1.as("h1"), h2.as("h2")).collect()
      .foreach { r =>
        var i = 0
        while (i < k) {
          // h1, h2 ∈ [0, bits): the sum stays far from int64 range
          val pos = java.lang.Math.floorMod(
            r.getLong(0) + i.toLong * r.getLong(1), bits.toLong).toInt
          words(pos >> 6) |= 1L << (pos & 63)
          i += 1
        }
      }
    val bloom = array(words.map(lit(_)).toIndexedSeq: _*)
    // corpus side: conjunction of the k bit probes — a pure codegen'd
    // predicate against the literal bitmap, no join, no shuffle before
    // the per-doc aggregate
    val mightContain = (0 until k).map { i =>
      val pos = pmod(h1 + lit(i.toLong) * h2, lit(bits.toLong))
      call_function("shiftrightunsigned",
        element_at(bloom, (pos / 64L).cast("int") + 1),
        pmod(pos, lit(64L)).cast("int")).bitwiseAND(lit(1L)) === 1L
    }.reduce(_ && _)
    grams(docs.filter(!isBench))
      .filter(mightContain)
      .groupBy("doc_id")
      .agg(countDistinct("gram").as("n_hit"))
      .orderBy("doc_id")
  }

  /** Duplicate-cluster size histogram — the corpus-telemetry number a
    * dedup pass reports (how much of the corpus is singletons vs
    * 2-copies vs boilerplate blobs): group exact-content clusters by
    * size, count clusters and documents per size. Two linear
    * aggregations (content hash → cluster size → histogram), both
    * map-side-combining; the output is |distinct sizes| rows.
    */
  def dupHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(md5(TextAnalysis.normText(col("text"))).as("content_hash"))
      .groupBy("content_hash")
      .agg(count(lit(1)).as("n_copies"))
      .groupBy("n_copies")
      .agg(count(lit(1)).as("n_clusters"),
        sum("n_copies").as("n_docs"))
      .orderBy("n_copies")

  /** Per-benchmark-document contamination report — [[decontaminate]]
    * from the benchmark's point of view: for each eval document, how
    * many corpus documents share at least one `n`-gram with it, and
    * how many distinct grams leak. The operator an eval-integrity
    * audit runs BEFORE deciding what to drop. Same broadcast-join
    * shape as [[decontaminate]] (benchmark side is tiny), one extra
    * group key.
    */
  def contaminationReport(spark: SparkSession, dir: String,
                          n: Int = 13): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.normText(col("text")).as("txt"))
    val isBench = col("doc_id") % 97 === 0
    def grams(d: DataFrame) = d.select(col("doc_id"),
      explode(Dedup.shingles("txt", n)).as("gram"))
    val bench = grams(docs.filter(isBench))
      .select(col("doc_id").as("bench_id"), col("gram")).distinct()
    // corpus side deliberately NOT distinct'd: the DISTINCT aggregates
    // below dedupe after the (broadcast) join has already shrunk the
    // stream to benchmark hits — a pre-join distinct would shuffle
    // every corpus gram to save nothing
    grams(docs.filter(!isBench))
      .join(broadcast(bench), Seq("gram"))
      .groupBy("bench_id")
      .agg(countDistinct("doc_id").as("n_contaminated"),
        countDistinct("gram").as("n_leaked_grams"))
      .orderBy("bench_id")
  }

  /** Sequence packing (the pre-tokenizer batch-planning pass): assign
    * each document to a fixed-token-budget bin, greedily in doc order
    * — the "concatenate then chunk" layout a pretraining data loader
    * materializes. Packing is PER SHARD (`doc_id mod shards`), the
    * way loaders shard per worker: the cumulative-sum window then
    * runs inside each shard partition instead of forcing a global
    * single-partition ordering — the difference between a scalable
    * plan and a serial one at 100 TB. A document whose running total
    * straddles a bin boundary goes to the bin its START falls in, so
    * bins can overflow by at most one document (PipelineSpec asserts
    * the bound).
    */
  def packSequences(spark: SparkSession, dir: String,
                    budgetTokens: Long = 2048, shards: Int = 8): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
        pmod(col("doc_id"), lit(shards.toLong)).as("shard"))
      .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        expr(s"cum_before div $budgetTokens").as("bin"))
      .orderBy("doc_id")
  }

  /** The end of the pipeline: WRITE the training shards. Each
    * document's token-id sequence ([[TextAnalysis.tokenizeIds]],
    * pos-ordered array) lands in its [[packSequences]] (shard, bin)
    * slot, written as a shard-partitioned parquet layout — the
    * artifact a trainer's data loader reads, one directory per shard,
    * documents addressable by (bin, doc_id). The returned manifest is
    * computed FROM THE READ-BACK FILES (doc/token counts + an
    * order-pinned digest of every id sequence), so the gate hashes
    * what was actually persisted, not the plan that produced it.
    *
    * Scale shape: encoding is the broadcast-vocab map, slotting is
    * the pack window (per-shard cumulative sums), the write shuffles
    * once on `shard` (the layout's own partitioning), and the
    * manifest re-read aggregates per (shard, bin) — nothing
    * corpus-quadratic, and the digest's sort_array operates on
    * one bin's documents at a time.
    */
  def exportShards(spark: SparkSession, dir: String,
                   budgetTokens: Long = 2048, shards: Int = 8,
                   k: Int = 24): DataFrame =
    exportShardsOver(spark, dir,
      TextAnalysis.tokenizeIds(spark, dir, k).select("doc_id", "pos", "token_id"),
      s"$dir:$budgetTokens:$shards:$k", budgetTokens, shards)

  /** [[exportShards]] over subword (BPE) ids — the same pack/write/
    * read-back-manifest machinery fed by
    * [[graft.pipeline.Bpe.tokenizeIdsBpe]] instead of the word-level
    * encoder, so the terminal artifact gate also covers the encoding
    * a real trainer consumes. The bin plan (packSequences) is
    * unchanged by design: batch planning keys on whitespace-token
    * budgets, the payload carries subword ids.
    */
  def exportShardsBpe(spark: SparkSession, dir: String,
                      budgetTokens: Long = 2048, shards: Int = 8): DataFrame =
    exportShardsOver(spark, dir,
      Bpe.tokenizeIdsBpe(spark, dir).select("doc_id", "pos", "token_id"),
      s"bpe:$dir:$budgetTokens:$shards", budgetTokens, shards)

  private def exportShardsOver(spark: SparkSession, dir: String,
                               ids: DataFrame, tag: String,
                               budgetTokens: Long, shards: Int): DataFrame = {
    val out = graft.sources.TmpDir.scoped("exportshards",
      spark.sparkContext.applicationId, tag)
    val slots = packSequences(spark, dir, budgetTokens, shards)
      .select("doc_id", "shard", "bin")
    ids.join(slots, Seq("doc_id"))
      .groupBy(col("shard"), col("bin"), col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("token_id"))))
        .as("pt"))
      .select(col("shard"), col("bin"), col("doc_id"),
        expr("transform(pt, x -> x.token_id)").as("ids"))
      .repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(out)
    spark.read.parquet(out)
      // partition-column inference reads `shard` back as INT
      .select(col("shard").cast("long").as("shard"), col("bin"),
        col("doc_id"), col("ids"))
      .groupBy("shard", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("ids"))).cast("long").as("n_tokens"),
        md5(expr(
          "array_join(transform(sort_array(collect_list(struct(doc_id, ids))), " +
            "x -> concat(cast(x.doc_id as string), ':', " +
            "array_join(transform(x.ids, i -> cast(i as string)), ','))), ';')"))
          .as("ids_digest"))
      .orderBy("shard", "bin")
  }

  /** The redaction patterns: RE2-safe (work identically under Java
    * regex and DuckDB's RE2) — email, IPv4, and 7+-digit runs.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"),
    ("[0-9]{7,}", "<NUM>"))

  /** PII scrubbing: redact emails, IPv4 addresses and long digit runs
    * from the text column. Pure regexp_replace chain — whole-stage
    * codegen, no UDF, linear scan. Output carries `md5(scrubbed)` (a
    * compact engine-portable digest of the rewritten text) plus the
    * per-class redaction counts, so the gate checks the actual
    * rewriting, not just row counts.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    piiScrubOf(Tables.documents(spark, dir)).orderBy("doc_id")

  /** [[piiScrub]] over any (doc_id, text) frame — shared by the batch
    * operator and the ingestion-time streaming form
    * ([[graft.streaming.StreamOps.piiScrubStream]]), so the two can't
    * drift apart. Pure per-row map: batch and stream are the SAME
    * expression tree, no state.
    */
  private[graft] def piiScrubOf(docs: DataFrame): DataFrame = {
    val scrubbed = piiPatterns.foldLeft(col("text")) {
      case (c, (re, tag)) => regexp_replace(c, re, tag)
    }
    docs.select(col("doc_id"),
      md5(scrubbed).as("scrub_hash"),
      regexp_count(col("text"), lit(piiPatterns(0)._1)).cast("long").as("n_email"),
      regexp_count(col("text"), lit(piiPatterns(1)._1)).cast("long").as("n_ip"))
  }

  /** Token-budget sampling: take documents per SOURCE, in salted-hash
    * order (deterministic, content-independent), until each source's
    * cumulative token count reaches `budgetTokens` — the data-mixing
    * primitive that targets TOKEN quotas rather than document counts
    * ([[mixSources]]/[[mixTemperature]] sample by doc rate; a training
    * mix is specified in tokens). A document is kept iff the tokens
    * BEFORE it in its source's hash order are under budget, so every
    * source overshoots by at most one document — exact, no iteration.
    *
    * Plan shape: one shuffle on `source`, a running-sum window inside
    * each source partition (same discipline as [[packSequences]]),
    * then a filter — linear at any scale. Skewed source cardinality
    * is bounded by the budget itself: the window's state is one
    * running sum, and the output per source is ≤ budget/min_dl docs.
    */
  def sampleTokenBudget(spark: SparkSession, dir: String,
                        budgetTokens: Long = 800,
                        salt: String = "tb0"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source")
      .orderBy(md5(concat(lit(salt), lit(":"), col("doc_id").cast("string"))),
        col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .filter(col("cum_before") < budgetTokens)
      .select("doc_id", "source", "n_tokens", "cum_before")
      .orderBy("doc_id")
  }

  /** The end-to-end curation verdict — every document against every
    * gate in one manifest, the table a pipeline run actually ships:
    * `reasons` is a bitmask of independent reject causes
    * (1 = exact-dup non-representative, 2 = bottom-decile quality,
    * 4 = benchmark-contaminated, 8 = benchmark member itself,
    * 16 = carries PII) and `keep` = (reasons == 0). Composing the
    * individually-gated operators ([[graft.pipeline.TextAnalysis
    * .dedupExact]], [[qualityFilter]], [[decontaminate]],
    * [[piiScrub]]) keeps each flag's semantics pinned by its own
    * oracle while THIS oracle pins the composition.
    *
    * Plan shape: each component reduces to a doc_id flag relation
    * joined back on the fact key — at 100 TB these are co-partitioned
    * hash joins on doc_id (the dup/quality/contamination work inside
    * each component keeps its own bucketed shape; nothing here adds a
    * new quadratic or wide-row surface).
    */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.TextAnalysis
    val docs = Tables.documents(spark, dir).select("doc_id", "lang", "source")
    val reps = TextAnalysis.dedupExact(spark, dir)
      .select(col("keep_doc_id").as("doc_id"), lit(1L).as("is_rep"))
    val qualKept = qualityFilter(spark, dir)
      .select(col("doc_id"), lit(1L).as("q_ok"))
    val contam = decontaminate(spark, dir)
      .select(col("doc_id"), lit(1L).as("is_cont"))
    val pii = piiScrub(spark, dir)
      .filter(col("n_email") + col("n_ip") > 0)
      .select(col("doc_id"), lit(1L).as("has_pii"))
    docs
      .join(reps, Seq("doc_id"), "left")
      .join(qualKept, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .join(pii, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        (when(col("is_rep").isNull, 1L).otherwise(0L) +
          when(col("q_ok").isNull, 2L).otherwise(0L) +
          when(col("is_cont").isNotNull, 4L).otherwise(0L) +
          when(col("doc_id") % 97 === 0, 8L).otherwise(0L) +
          when(col("has_pii").isNotNull, 16L).otherwise(0L)).as("reasons"))
      .withColumn("keep",
        when(col("reasons") === 0L, 1L).otherwise(0L))
      .orderBy("doc_id")
  }

  /** Epoch-weighted upsampling — the "repeat the good sources"
    * counterpart of [[mixSources]]' downsampling: each source gets a
    * target epoch count in basis points (10000 = exactly one pass,
    * 25000 = 2.5 passes), and every document emits
    * `floor(epochs) + Bernoulli(frac)` copies, the Bernoulli drawn
    * from the same salted-md5-prefix discipline as [[sampleHash]] —
    * deterministic, RNG-free, rerun-stable. Output is the upsampled
    * corpus manifest (doc_id, source, copy); a writer joins it back
    * to content by doc_id.
    *
    * Pure map + bounded explode (≤ ⌈epochs⌉ rows per doc) — no
    * shuffle at all before the gate's ORDER BY; at 100 TB the
    * manifest streams straight into the shard writer.
    */
  def mixEpochs(spark: SparkSession, dir: String,
                epochsBp: Map[String, Long] =
                  Map("src0" -> 25000L, "src1" -> 30000L),
                defaultBp: Long = 10000L,
                salt: String = "epoch"): DataFrame = {
    require(epochsBp.values.forall(_ >= 0) && defaultBp >= 0,
      "epoch targets are non-negative basis points")
    val whole = epochsBp.foldLeft(lit(defaultBp / 10000L)) {
      case (acc, (s, v)) =>
        when(col("source") === s, lit(v / 10000L)).otherwise(acc)
    }
    val thr = epochsBp.foldLeft(lit(thresholdHex(defaultBp % 10000L))) {
      case (acc, (s, v)) =>
        when(col("source") === s, lit(thresholdHex(v % 10000L))).otherwise(acc)
    }
    val n = whole +
      when(hashPrefix(col("doc_id"), salt) < thr, 1L).otherwise(0L)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), n.as("n_copies"))
      .filter(col("n_copies") >= 1)
      .select(col("doc_id"), col("source"),
        explode(expr("sequence(CAST(1 AS BIGINT), n_copies)")).as("copy"))
      .orderBy("doc_id", "copy")
  }

  /** Training-export shard assignment — the terminal "shuffle the
    * corpus once, write N shards" step of a data pipeline: every
    * document gets a hash-balanced `shard` and a deterministic
    * pseudo-random `pos` within it (the global shuffle a training run
    * needs, precomputed so readers stream shards sequentially).
    *
    * Both coordinates are engine-portable md5 derivations (the same
    * discipline as [[hashPrefix]]): `shard` = the first two hex
    * digits' value mod `shards`, `pos` = rank of a second salted md5
    * within the shard. At 100 TB this is the pipeline's ONE
    * deliberate global sort — a single shuffle on `shard` (bounded
    * fan-in: rows/shards per reducer, each sorted by 32-hex keys);
    * writers then emit shard files in `pos` order.
    */
  def shardAssign(spark: SparkSession, dir: String,
                  shards: Int = 8, salt: String = "shard"): DataFrame = {
    require(shards >= 1 && shards <= 256, "two hex digits address 256 shards")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("ho", "doc_id")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(concat(lit(s"$salt:"), col("doc_id").cast("string"))).as("h"),
        md5(concat(lit(s"$salt-ord:"), col("doc_id").cast("string"))).as("ho"))
      .withColumn("shard",
        (((expr("instr('0123456789abcdef', substring(h, 1, 1))") - 1) * 16 +
          (expr("instr('0123456789abcdef', substring(h, 2, 1))") - 1))
          % shards).cast("long"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select("doc_id", "shard", "pos")
      .orderBy("doc_id")
  }

  /** Corpus snapshot diff — the change report a versioned pipeline
    * publishes between two corpus builds: per document `added`,
    * `removed`, or `changed` (content hash differs; unchanged rows
    * are omitted — at 100 TB the diff is small, the corpus is not).
    * ONE co-partitioned full-outer hash join on `doc_id` comparing
    * md5(normalized text) — uniform key, linear, no skew; the hashes
    * are computed under the join's own projection so neither full
    * text column ever crosses the shuffle.
    */
  def corpusDiffOf(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    def hashed(d: DataFrame, h: String) = d.select(col("doc_id"),
      md5(TextAnalysis.normText(col("text"))).as(h))
    hashed(oldDocs, "h_old")
      .join(hashed(newDocs, "h_new"), Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed")
          .otherwise("unchanged"))
      .filter(col("status") =!= "unchanged")
      .select("doc_id", "status")
      .orderBy("doc_id")
  }

  /** The gate query: diff the corpus against a deterministic next
    * version (every `doc_id % 31 == 0` removed, every
    * `doc_id % 17 == 0` survivor edited, a shifted id-range appended)
    * — the mutation is pure SQL so the DuckDB oracle builds the same
    * "new" snapshot and the diff is oracle-exact.
    */
  def corpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val newer = docs
      .filter(col("doc_id") % 31 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 17 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      .unionByName(
        docs.filter(col("doc_id") % 13 === 0)
          .withColumn("doc_id", col("doc_id") + lit(1000000L)))
    corpusDiffOf(docs, newer)
  }

  /** Per-(source, lang) corpus profile — the "corpus card" table a
    * curation run reports before and after every pass: volume (docs,
    * chars, tokens), size envelope, and exact distinct-content count
    * (duplicate mass per cell). ONE aggregation with map-side
    * combine; the count(DISTINCT md5) expands to a two-phase
    * aggregate keyed by (source, lang, hash) — uniform 32-hex keys,
    * the canonical linear shape. Cell cardinality is
    * |sources|×|langs|, metadata-sized at any corpus scale.
    */
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), col("lang"), col("n_chars"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
        md5(TextAnalysis.normText(col("text"))).as("th"))
      .groupBy("source", "lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        sum("n_tokens").as("total_tokens"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"),
        countDistinct(col("th")).as("n_unique_texts"))
      .orderBy("source", "lang")

  /** The DSIR per-term importance ratio in exactly-reproducible
    * micro-unit algebra, built ONCE for both engines (the
    * [[graft.pipeline.TextAnalysis.bm25MicroSql]] discipline):
    * add-one-smoothed unigram likelihood ratio
    * `((ft+1)/(Nt+V)) / ((fc+1)/(Nc+V))` — the log is deliberately
    * NOT taken (libm-divergent); the per-doc score sums `tf · ratio`
    * instead of `tf · log ratio`, which ranks identically for the
    * one-sided "more target-like than corpus-average" selection this
    * feeds. All products run in double (overflow-free at any corpus
    * size) with one shared association order, so both engines produce
    * the same bits; `round(1e6·x)` quantizes to BIGINT so the
    * per-document SUM is integer — order-free under Spark's
    * nondeterministic aggregation order.
    */
  def dsirMicroSql(ncv: String, ntv: String): String =
    s"CAST(round((1000000.0 * (ft + 1) * $ncv) / " +
      s"((fc + 1) * ($ntv * 1.0))) AS BIGINT)"

  /** DSIR-style data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every
    * document by how much more likely its tokens are under a TARGET
    * domain's unigram model than under the full-corpus model, so a
    * high-quality target slice (here: the `lang = targetLang` docs)
    * can pull stylistically-similar documents out of the whole
    * corpus. The shipped score is the smoothed likelihood-ratio sum
    * in exact micro-units (see [[dsirMicroSql]]).
    *
    * Plan shape — the inverted-index discipline, no all-pairs, no
    * model state: one explode → per-(doc, term) tf (partial-merged
    * map-side) → per-TERM stats (fc, ft — the only vocabulary-wide
    * shuffle) → three corpus scalars collected driver-side (Nc, Nt,
    * V — 24 bytes, inlined as literals) → ratio joined back on term
    * (vocab-sized relation; at 100 TB this is a shuffle join on term,
    * the same width tokenDfScore already pays) → per-doc integer sum.
    * Everything is linear in corpus tokens; nothing is ever
    * quadratic in documents.
    */
  def dsirWeights(spark: SparkSession, dir: String,
                  targetLang: String = "en"): DataFrame =
    dsirWeightsOf(Tables.documents(spark, dir), targetLang)

  /** [[dsirWeights]] over any (doc_id, lang, text) DataFrame. */
  def dsirWeightsOf(docs: DataFrame, targetLang: String): DataFrame = {
    val docTf = docs
      .select(col("doc_id"), col("lang"),
        explode(split(TextAnalysis.normText(col("text")), " ")).as("term"))
      .groupBy("doc_id", "lang", "term")
      .agg(count(lit(1)).cast("long").as("tf"))
    // the vocab-sized term relation PERSISTS before the scalar
    // head(): without it the scalar job tokenizes the corpus once and
    // the final plan tokenizes it AGAIN to rebuild termStats (exchange
    // reuse only saves the intra-plan twin, not the scalar job) — one
    // avoidable full-corpus pass at 100 TB. The cache is vocab-sized
    // (|terms| rows), the memoized-artifact discipline of this file;
    // the scalar aggregate below is also what materializes it.
    val termStats = docTf
      .groupBy("term")
      .agg(sum("tf").as("fc"),
        sum(when(col("lang") === targetLang, col("tf")).otherwise(0L))
          .as("ft"))
      .cache()
    val s = termStats
      .agg(sum("fc").cast("long"), sum("ft").cast("long"),
        count(lit(1)).cast("long")).head()
    val (nc, nt, v) = (s.getLong(0), s.getLong(1), s.getLong(2))
    val ratios = termStats.withColumn("r_micro",
      expr(dsirMicroSql((nc + v).toString, (nt + v).toString)))
    docTf.join(ratios.select("term", "r_micro"), "term")
      .groupBy("doc_id", "lang")
      .agg(sum(col("tf") * col("r_micro")).as("w_micro"),
        sum("tf").as("n_toks"))
      .withColumn("w_per_tok_micro", expr("w_micro div n_toks"))
      .withColumn("target_like",
        when(col("w_per_tok_micro") >= 1000000L, 1L).otherwise(0L))
      .orderBy("doc_id")
  }

  /** Model-based quality filtering by HEURISTIC DISTILLATION — the
    * GPT-3/CCNet classifier pattern (Brown et al. 2020 §A; fastText
    * filters): a cheap local model is trained to reproduce an
    * expensive corpus-level quality signal, then applied to every
    * document as a pure map. The teacher here is
    * [[TextAnalysis.tokenDfScore]] (vocabulary commonness — its
    * exact computation needs a vocabulary-wide join per run); the
    * weak label is "df score ≥ corpus median". At 100 TB the
    * economics are the whole point: the teacher runs once on the
    * train slice, the student (a ~32 k-double coefficient vector,
    * broadcast) scores the full corpus with NO corpus-wide join —
    * new ingest batches get quality scores map-side, at scan speed.
    *
    * Spark-native shape: `HashingTF` (binary, 2¹⁵ buckets — the
    * hashing trick caps feature width regardless of vocabulary) +
    * MLlib `LogisticRegression` (distributed L-BFGS: each iteration
    * is one treeAggregate over the train split — linear scans, no
    * shuffle of the corpus). The train/held-out split is a
    * deterministic salted hash ([[hashBelow]] — no RNG state); the
    * `is_train` flag rides the output so the held-out agreement that
    * certifies the distillation is computable FROM the gate relation
    * itself (CurationSpec asserts it).
    *
    * Rows-only gate (L-BFGS coefficients are not oracle-expressible);
    * the spec pins held-out accuracy and the output's row identity.
    */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.functions.vector_to_array
    val feat = classifierInputs(spark, dir)
    // the trained model is a persisted ARTIFACT (the BPE/IVF-index
    // discipline): the first invocation trains, SAVES the model to
    // disk and scores with the LOADED copy — so the artifact
    // round-trip (what a production pipeline ships between the
    // training run and every later scoring run) is load-bearing in
    // the gate, not a dead code path. Warm invocations price SCORING
    // — the pure-map pass a new ingest batch pays — never
    // teacher + L-BFGS.
    val model = graft.Memo(spark, "qclsmodel", dir) {
      import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
      val path = graft.sources.TmpDir.scoped("qclsmodel",
        spark.sparkContext.applicationId, dir)
      // pin the train split to a FIXED deterministic partition
      // layout before fit: L-BFGS's per-iteration treeAggregate
      // sums gradients in partition order, so a layout that varies
      // with cluster shape would make the coefficients (and the
      // gated p1_bp column) drift across runs at the last float
      // bit. Fixed count + hash-on-key + in-partition sort makes
      // the float reduction order a function of the DATA only.
      new LogisticRegression()
        .setMaxIter(100).setRegParam(1e-3).setStandardization(false)
        .fit(feat.filter(col("is_train") === 1L)
          .repartition(8, col("doc_id")).sortWithinPartitions("doc_id"))
        .write.overwrite().save(path)
      LogisticRegressionModel.load(path)
    }
    model.transform(feat)
      .select(col("doc_id"),
        col("label").cast("long").as("weak_label"),
        col("is_train"),
        col("prediction").cast("long").as("pred"),
        floor(vector_to_array(col("probability"))(1) * 10000)
          .cast("long").as("p1_bp"))
      .orderBy("doc_id")
  }

  /** The featurized + weak-labeled relation [[qualityClassifier]]
    * trains and scores over: hashed binary bag-of-tokens, df-median
    * teacher label, deterministic hash train split.
    */
  private def classifierInputs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.feature.HashingTF
    val teacher = TextAnalysis.tokenDfScore(spark, dir)
      .select(col("doc_id"), col("df_score_micro"))
    val median = teacher.select(
      expr("percentile_approx(df_score_micro, 0.5, 10000)")).head().getLong(0)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        split(TextAnalysis.normText(col("text")), " ").as("toks"))
      .join(teacher, "doc_id")
      .withColumn("label",
        when(col("df_score_micro") >= median, 1.0).otherwise(0.0))
      .withColumn("is_train",
        when(hashBelow(col("doc_id"), "qcls", 5000L), 1L).otherwise(0L))
    new HashingTF().setInputCol("toks").setOutputCol("features")
      .setNumFeatures(1 << 15).setBinary(true)
      .transform(docs)
  }

  /** Temperature-based language rebalancing (the standard α-sampling
    * used to flatten a skewed language mix before multilingual
    * training): expected kept volume per language ∝ n_l^α with
    * α = 1/2, realised as a deterministic per-language keep rate
    * r_l = √(n_min/n_l) — the smallest language keeps everything,
    * larger ones are downsampled toward the temperature curve. Rates
    * are derived FROM the data in one tiny counts aggregation,
    * converted to basis points with integer `div`
    * (engine-identical), rendered to the same fixed-width hex
    * thresholds [[sampleHash]] uses, and broadcast back over the
    * corpus as a pure-map hash filter: no RNG, no shuffle of the
    * corpus, reproducible at any scale. √ is IEEE-correctly-rounded
    * in both engines, so the oracle derives bit-identical rates from
    * the same counts.
    */
  def mixTemperature(spark: SparkSession, dir: String,
                     salt: String = "temp"): DataFrame =
    mixTemperatureOf(Tables.documents(spark, dir), salt)

  /** [[mixTemperature]] over any (doc_id, lang, source) DataFrame. */
  def mixTemperatureOf(docs: DataFrame, salt: String = "temp"): DataFrame = {
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
    val rates = counts
      .crossJoin(broadcast(counts.agg(min(col("n")).as("n_min"))))
      .withColumn("bp", floor(lit(10000.0)
        * sqrt(col("n_min").cast("double"))
        / sqrt(col("n").cast("double"))).cast("long"))
      .withColumn("thr",
        when(col("bp") >= 10000L, lit("g"))
          .when(col("bp") <= 0L, lit("0"))
          .otherwise(lower(lpad(hex(expr("bp * 65536 div 10000")), 4, "0"))))
      .select("lang", "thr")
    docs.join(broadcast(rates), Seq("lang"))
      .filter(hashPrefix(col("doc_id"), salt) < col("thr"))
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Per-language quality floor: drop the bottom `dropBp`/10000 of
    * each language by stopword-ratio score — the quantile-threshold
    * filter every quality pipeline applies per-language (absolute
    * thresholds don't transfer across languages).
    *
    * The quantile is EXACT yet never sorts the corpus: scores live in
    * a bounded integer domain (basis points, ≤ 10001 distinct
    * values), so a (lang, score) histogram aggregation — map-side
    * combining, shuffle keyed by at most |langs|×10001 rows — feeds a
    * cumulative window over that metadata-sized histogram, and the
    * per-language threshold (smallest score whose cumulative count
    * reaches ⌈n·dropBp/10000⌉) broadcasts back as a pure-map filter.
    * The same arithmetic runs in the oracle: integer counts, integer
    * ceiling-division, no interpolation — hash-exact at any scale.
    */
  def qualityFilter(spark: SparkSession, dir: String,
                    dropBp: Long = 1000): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        floor(lit(10000.0)
          * regexp_count(concat(lit(" "), TextAnalysis.normText(col("text")), lit(" ")),
              lit(" (the|a|of|and|to|is|in) ")).cast("long")
          / size(split(trim(col("text")), "\\s+")).cast("long"))
          .cast("long").as("q_bp"))
    val hist = scored.groupBy("lang", "q_bp").agg(count(lit(1)).as("cnt"))
    val langW = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    val cumW = langW.orderBy("q_bp")
    val thr = hist
      .withColumn("cum", sum("cnt").over(cumW))
      .withColumn("n", sum("cnt").over(langW))
      .filter(col("cum") >= expr(s"(n * $dropBp + 9999) div 10000"))
      .groupBy("lang").agg(min("q_bp").as("thr"))
    scored.join(broadcast(thr), Seq("lang"))
      .filter(col("q_bp") > col("thr"))
      .select("doc_id", "lang", "q_bp")
      .orderBy("doc_id")
  }

  /** The nightly-ingestion capstone: three "crawl waves" land on a
    * versioned snapshot corpus end to end — per wave: quality gate at
    * the ingest boundary (`n_chars >= minChars`), in-batch exact
    * dedup (first doc_id per content hash; planned as a bounded-heap
    * TopKPerGroup, not a sort), dedup against the ACCUMULATED corpus
    * (left-anti on the content hash — here a column-pruned scan of
    * the corpus's hash column; at 100 TB this probe is the persisted
    * band-index / per-file bloom discipline of
    * [[Dedup.incrementalDedupIndexed]] and
    * [[graft.sources.SnapshotStats.bloomify]]), then an idempotent
    * [[graft.sources.SnapshotOps.append]] commit. Waves RE-DELIVER
    * earlier documents (`doc_id % 5 == wave` rides along with the
    * wave's own `doc_id % 3 == wave` slice — crawls re-fetch pages),
    * so a dedup that silently breaks doubles the corpus and fails
    * the hash gate; a quality gate that leaks shifts every rollup
    * row. The oracle is the fixed point the pipeline must reach:
    * every quality-passing document exactly once.
    */
  def corpusNightlyBuild(spark: SparkSession, dir: String,
                         minChars: Long = 200): DataFrame = {
    val appId = spark.sparkContext.applicationId
    val tmp = graft.sources.TmpDir.scoped("nightly", appId, dir)
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(tmp)
    val docs = Tables.documents(spark, dir)
      .withColumn("h", md5(TextAnalysis.normText(col("text"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("h").orderBy("doc_id")
    def waves(epoch: Int): Unit = (0 until 3).foreach { wave =>
      val delivered = docs.filter(
        pmod(col("doc_id"), lit(3)) === wave ||
          pmod(col("doc_id"), lit(5)) === wave)
      val passed = delivered.filter(col("n_chars") >= minChars)
      val inBatch = passed
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
      val survivors =
        if (graft.sources.Snapshot.currentVersion(
            root.getFileSystem(conf), root).isEmpty) inBatch
        else inBatch.join(
          graft.sources.Snapshot.read(spark, tmp).select("h"),
          Seq("h"), "left_anti")
      graft.sources.SnapshotOps.append(spark, tmp, survivors,
        "source", Some(s"night-$wave-e$epoch"))
    }
    // the corpus table is built ONCE per session; later invocations
    // re-run the three waves with fresh idempotency keys against the
    // accumulated corpus — every delivered document is then a re-crawl
    // duplicate, the full dedup pipeline runs (quality gate, in-batch
    // window, corpus anti-join — the append must evaluate the batch to
    // see it is empty) and NOTHING commits, so the rollup stays the
    // fixed point while warm samples price the steady-state nightly
    // whose crawl delivered nothing new — the recurring cost of the
    // pipeline, not the once-per-corpus bootstrap
    val fresh = graft.Memo.bootstrap(spark, "nightly", dir) {
      root.getFileSystem(conf).delete(root, true)
      waves(0)
    }
    if (!fresh) waves(nightlyEpoch.incrementAndGet())
    graft.sources.Snapshot.read(spark, tmp)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"), sum("doc_id").as("sum_id"),
        sum("n_chars").as("sum_chars"))
      .orderBy("lang", "source")
  }

  private val nightlyEpoch = new java.util.concurrent.atomic.AtomicInteger(0)
}
