package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Subword (BPE) tokenization — the terminal encoding a training-data
  * pipeline ships (Sennrich et al. 2016, "Neural Machine Translation
  * of Rare Words with Subword Units"), BYTE-level and CORPUS-trained:
  *
  *  - **Byte alphabet.** The 256 base symbols are the UTF-8 byte
  *    values, represented canonically as uppercase hex pairs
  *    ("00".."FF") so tokens stay plain strings that Spark and the
  *    DuckDB oracle agree on byte-for-byte (`hex()` is uppercase in
  *    both engines). Byte-level means NO out-of-vocabulary symbol
  *    exists: any UTF-8 text — non-ASCII included — encodes, worst
  *    case as raw bytes (the GPT-2/tiktoken design).
  *  - **Corpus-trained.** [[model]] reduces the corpus to a capped
  *    word-frequency dictionary (one vocab-sized shuffle with map-side
  *    partial counts — the only distributed step, scaling with input
  *    splits at 100 TB), runs the incremental merge learner
  *    ([[learn]]) over that metadata-sized dictionary on the driver —
  *    the same shape every production BPE trainer uses (training
  *    state is vocabulary-, not corpus-, sized) — and PERSISTS the
  *    learned rule and vocab tables as parquet at [[StorePath]], the
  *    same persisted-index discipline as the IVF cell index: encode
  *    queries and the DuckDB oracle both resolve the model from that
  *    artifact, so the gate covers the full train → persist → load →
  *    encode lifecycle.
  *  - **Encode** is [[graft.functions.BpeEncodeExpr]] — a pure
  *    per-row map (merge table rides the expression; no shuffle, no
  *    driver participation). [[bpeEncode]] / [[tokenizeIdsBpe]] gate
  *    it hash-exact against a DuckDB oracle that re-implements merge
  *    application as a recursive CTE over the distinct-word domain,
  *    reading the SAME persisted rule table (the application
  *    ALGORITHM is independently re-derived; the rule list is the
  *    shared model artifact, exactly as a deployed tokenizer ships).
  *
  * Encode-time semantics (shared by the expression, the oracle CTE
  * and the plain-Scala reference in BpeSpec): repeatedly apply the
  * lowest-ranked applicable merge at its leftmost occurrence until
  * none applies. See BpeEncodeExpr's doc for why this equals the
  * textbook merge-all-occurrences loop on any learned merge list.
  *
  * The merge budget is thousands ([[MergeBudget]]); the learner stops
  * earlier when the dictionary saturates (no pair occurs twice). The
  * shipped synthetic corpus (31 distinct words at sf0.01) saturates
  * in the low hundreds of merges; the rotated ScaleUp corpora and any
  * real corpus fill progressively more of the budget — the budget,
  * not the fixture, is the design point.
  */
object Bpe {

  /** Trainer merge budget (vocab target ≈ 256 + budget). */
  val MergeBudget = 4096

  /** Cap on the training dictionary: the corpus reduction keeps the
    * `TrainMaxWords` most frequent words, bounding driver-side
    * trainer state regardless of corpus size.
    */
  val TrainMaxWords = 1 << 16

  private val Hex = "0123456789ABCDEF"

  /** UTF-8 bytes of a word as uppercase hex-pair tokens. */
  def hexTokens(w: String): Array[String] = {
    val bs = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[String](bs.length)
    var i = 0
    while (i < bs.length) {
      val b = bs(i) & 0xff
      out(i) = "" + Hex.charAt(b >> 4) + Hex.charAt(b & 0xf)
      i += 1
    }
    out
  }

  /** Learn up to `nMerges` merge rules from a word-frequency
    * dictionary, byte-level. Semantics are exactly the naive
    * recompute-stats-per-step trainer (BpeSpec's reference): best
    * pair = max total count (overlapping occurrences counted, the
    * reference get_stats convention), ties broken by (left, right)
    * lexicographic; merging is left-to-right non-overlapping; pairs
    * seen fewer than 2 times are never promoted.
    *
    * Implementation is INCREMENTAL so "thousands of merges over a
    * 64 k-word dictionary" is driver-cheap: pair counts live in a
    * hash map mirrored by an ordered set keyed (-count, left, right),
    * an occurrence index maps each pair to the words containing it,
    * and each merge re-tokenizes only the affected words, applying
    * exact count deltas — per-step cost is proportional to the
    * merged pair's support, not the dictionary.
    */
  def learn(wordCounts: Seq[(String, Long)], nMerges: Int): Seq[(String, String)] = {
    type Pair = (String, String)
    val words: Array[(Array[String], Long)] = wordCounts
      .sortBy(_._1)
      .map { case (w, c) => (hexTokens(w), c) }
      .toArray

    val counts = scala.collection.mutable.HashMap.empty[Pair, Long]
    val occ = scala.collection.mutable.HashMap.empty[Pair, scala.collection.mutable.HashSet[Int]]
    // min element = best pair: ordering (-count, left, right)
    implicit val ord: Ordering[(Long, String, String)] =
      Ordering.Tuple3(Ordering.Long.reverse, Ordering.String, Ordering.String)
    val ordered = scala.collection.mutable.TreeSet.empty[(Long, String, String)]

    def pairBag(toks: Array[String]): scala.collection.mutable.HashMap[Pair, Long] = {
      val m = scala.collection.mutable.HashMap.empty[Pair, Long]
      var i = 0
      while (i < toks.length - 1) {
        val p = (toks(i), toks(i + 1))
        m.update(p, m.getOrElse(p, 0L) + 1L)
        i += 1
      }
      m
    }
    def bump(p: Pair, delta: Long): Unit = if (delta != 0L) {
      val c0 = counts.getOrElse(p, 0L)
      val c1 = c0 + delta
      if (c0 > 0L) ordered.remove((c0, p._1, p._2))
      if (c1 > 0L) { counts.update(p, c1); ordered.add((c1, p._1, p._2)) }
      else counts.remove(p)
    }

    words.zipWithIndex.foreach { case ((toks, c), idx) =>
      pairBag(toks).foreach { case (p, n) =>
        bump(p, n * c)
        occ.getOrElseUpdate(p, scala.collection.mutable.HashSet.empty) += idx
      }
    }

    val merges = scala.collection.mutable.ArrayBuffer.empty[Pair]
    while (merges.size < nMerges && ordered.nonEmpty && ordered.head._1 >= 2L) {
      val (_, l, r) = ordered.head
      val best = (l, r)
      merges += best
      val affected = occ.getOrElse(best, scala.collection.mutable.HashSet.empty)
        .toArray.sorted
      affected.foreach { idx =>
        val (toks, c) = words(idx)
        val next = mergeAll(toks, best)
        val before = pairBag(toks)
        val after = pairBag(next)
        (before.keySet ++ after.keySet).foreach { p =>
          val d = after.getOrElse(p, 0L) - before.getOrElse(p, 0L)
          bump(p, d * c)
          val has = after.contains(p)
          if (has) occ.getOrElseUpdate(p, scala.collection.mutable.HashSet.empty) += idx
          else if (before.contains(p)) occ.get(p).foreach(_ -= idx)
        }
        words(idx) = (next, c)
      }
    }
    merges.toSeq
  }

  /** Left-to-right non-overlapping replacement of the pair in one
    * token sequence (the learner's merge step).
    */
  private[pipeline] def mergeAll(toks: Array[String], p: (String, String)): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < toks.length) {
      if (i < toks.length - 1 && toks(i) == p._1 && toks(i + 1) == p._2) {
        out += toks(i) + toks(i + 1); i += 2
      } else { out += toks(i); i += 1 }
    }
    out.toArray
  }

  // ---- the persisted model ----

  /** A trained tokenizer: merge rules in rank order plus the derived
    * vocabulary — ids 1..256 are the byte alphabet ("00".."FF"), then
    * each DISTINCT merge output in rank order (two merges can produce
    * the same surface string via different splits; first rank wins
    * the id). Id 0 is reserved (historically OOV; unreachable at byte
    * level — kept so downstream id consumers need no remap).
    */
  case class Model(rules: Seq[(String, String)], vocab: Seq[(String, Long)])

  /** Derive the vocabulary of a merge list. */
  def vocabOf(rules: Seq[(String, String)]): Seq[(String, Long)] = {
    val base = (0 until 256).map { b =>
      ("" + Hex.charAt(b >> 4) + Hex.charAt(b & 0xf), (b + 1).toLong)
    }
    val seen = scala.collection.mutable.HashSet(base.map(_._1): _*)
    var next = base.size.toLong
    val merged = rules.flatMap { case (l, r) =>
      val s = l + r
      if (seen.add(s)) { next += 1; Some((s, next)) } else None
    }
    base ++ merged
  }

  /** Fixed model-artifact location (per-user scratch, like
    * StorageStats.GatePath: the DuckDB oracle runs in a separate
    * process after the Spark session exits, so the artifact must
    * survive the JVM at a path the dumped oracle SQL can name — the
    * SQL interpolates this val at dump time). Layout:
    * `rules/` (rank, l, r, merged) and `vocab/` (piece, vid) parquet.
    */
  val StorePath: String = new java.io.File(
    sys.props.getOrElse("java.io.tmpdir", "/tmp"),
    "graft_bpe_model_" +
      sys.props.getOrElse("user.name", "anon").replaceAll("[^A-Za-z0-9_.-]", "_")
  ).getPath

  /** The corpus-trained model for `dir`: train once per (application,
    * dir) through [[graft.Memo]] — the dictionary reduction is the
    * only cluster job; the merge loop runs on the collected, capped
    * dictionary — then persist rules + vocab to [[StorePath]] for the
    * oracle and any later process. Deterministic end-to-end (ordered
    * dictionary, deterministic tie-breaks), so re-runs converge on
    * identical artifacts. [[StorePath]] is one location per user, so a
    * process trains one corpus.
    */
  def model(spark: SparkSession, dir: String): Model =
    graft.Memo(spark, "bpe-model", dir) {
      val dict = dictOf(spark, dir, TrainMaxWords)
      val rules = learn(dict, MergeBudget)
      val m = Model(rules, vocabOf(rules))
      import spark.implicits._
      m.rules.zipWithIndex
        .map { case ((l, r), i) => ((i + 1).toLong, l, r, l + r) }
        .toDF("rank", "l", "r", "merged")
        .coalesce(1).write.mode("overwrite").parquet(s"$StorePath/rules")
      m.vocab.toDF("piece", "vid")
        .coalesce(1).write.mode("overwrite").parquet(s"$StorePath/vocab")
      m
    }

  /** The capped word-frequency dictionary of the corpus (the
    * distributed half of training): explode to words, one vocab-sized
    * groupBy shuffle, keep the `maxWords` most frequent (ties by
    * word, so the cap is deterministic).
    */
  def dictOf(spark: SparkSession, dir: String, maxWords: Int): Seq[(String, Long)] =
    Tables.documents(spark, dir)
      .select(explode(split(TextAnalysis.normText(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc)
      .limit(maxWords)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq

  // ---- queries (SparkEntry registry) ----

  /** `bpe_learn`: train the corpus tokenizer and emit the learned
    * rule table (rank, left, right, merged) — hex-pair tokens.
    * Rows-only at the driver gate (DuckDB cannot express the
    * iterative trainer); BpeSpec gates the incremental learner
    * against an independent naive recompute-per-step implementation.
    */
  def bpeLearn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    model(spark, dir).rules.zipWithIndex
      .map { case ((l, r), i) => ((i + 1).toLong, l, r, l + r) }
      .toDF("rank", "left", "right", "merged")
      .orderBy("rank")
  }

  /** `bpe_encode`: the corpus encoded with the corpus-trained merge
    * list — one row per (document, piece position); pieces are hex
    * strings. Map-only: the merge table rides the expression,
    * encoding is a per-split scan (the ORDER BY is gate presentation
    * only).
    */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame =
    piecesOf(Tables.documents(spark, dir), model(spark, dir).rules)
      .orderBy("doc_id", "pos")

  /** Exploded (doc_id, pos, piece) of any (doc_id, text) frame under
    * a given merge list.
    */
  private[graft] def piecesOf(docs: DataFrame, rules: Seq[(String, String)]): DataFrame =
    docs
      .select(col("doc_id"),
        posexplode(graft.functions.bpe_encode(
          TextAnalysis.normText(col("text")), rules)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("piece"))

  /** `tokenize_ids_bpe`: [[bpeEncode]] pieces mapped to their model
    * vocabulary ids — the subword analogue of `tokenize_ids`, same
    * exploded shape, consumed unchanged by the pack/export chain. The
    * id lookup is a broadcast join against the vocab table (256 +
    * merges rows): per-split map at any corpus size. Byte-level means
    * the left join can never miss; coalesce(0) is kept as the
    * documented reserved id.
    */
  def tokenizeIdsBpe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = model(spark, dir)
    val v = m.vocab.toDF("piece", "token_id")
    piecesOf(Tables.documents(spark, dir), m.rules)
      .join(broadcast(v), Seq("piece"), "left")
      .select(col("doc_id"), col("pos"), col("piece"),
        coalesce(col("token_id"), lit(0L)).as("token_id"))
      .orderBy("doc_id", "pos")
  }

  // ---- oracle SQL fragments (DuckDB) ----

  /** The shared oracle CTE chain: BPE merge application as a
    * recursive CTE over the DISTINCT words of the normalised corpus.
    * Words are byte-tokenized with DuckDB's own primitives
    * (`hex(encode(w))` split into pairs — an independent derivation
    * of the byte alphabet), the merge rules come from the PERSISTED
    * model artifact at [[StorePath]], each step applies the
    * lowest-ranked merge at its leftmost occurrence (the LATERAL
    * picks (rank, position) minimal), and a word leaves the recursion
    * when NOT EXISTS any applicable merge. Terminal relation `px`:
    * (doc_id, wpos, pi, piece). Embed under `WITH RECURSIVE`.
    */
  def encodeCteSql(normSql: String): String =
    s"nd AS (SELECT doc_id, $normSql AS txt FROM documents), " +
      "wd AS (SELECT doc_id, regexp_split_to_array(txt, ' ') AS ws FROM nd), " +
      "wp AS (SELECT doc_id, unnest(generate_series(1, len(ws))) AS wpos, " +
      "unnest(ws) AS w FROM wd), " +
      s"merges AS (SELECT rank, l, r FROM '$StorePath/rules/*.parquet'), " +
      "dw AS (SELECT DISTINCT w FROM wp WHERE len(w) > 0), " +
      "init AS (SELECT w, list_transform(range(1, length(hex(encode(w)))//2 + 1), " +
      "i -> hex(encode(w))[2*i-1:2*i]) AS toks FROM dw), " +
      "enc AS (SELECT w, toks FROM init " +
      "UNION ALL " +
      "SELECT e.w, e.toks[:bp.p-1] || [e.toks[bp.p] || e.toks[bp.p+1]] || e.toks[bp.p+2:] " +
      "FROM enc e, LATERAL (" +
      "SELECT i AS p FROM (SELECT unnest(range(1, len(e.toks))) AS i) t " +
      "JOIN merges m ON m.l = e.toks[i] AND m.r = e.toks[i+1] " +
      "ORDER BY m.rank, i LIMIT 1) bp), " +
      "fin AS (SELECT w, toks FROM enc e WHERE NOT EXISTS (" +
      "SELECT 1 FROM (SELECT unnest(range(1, len(e.toks))) AS i) t " +
      "JOIN merges m ON m.l = e.toks[i] AND m.r = e.toks[i+1])), " +
      "pc AS (SELECT w, unnest(generate_series(1, len(toks))) AS pi, " +
      "unnest(toks) AS piece FROM fin), " +
      "px AS (SELECT wp.doc_id, wp.wpos, pc.pi, pc.piece " +
      "FROM wp JOIN pc USING (w))"

  /** The persisted vocabulary as an oracle relation (vpiece, vid). */
  def vocabCteSql: String =
    s"vocab AS (SELECT piece AS vpiece, vid FROM '$StorePath/vocab/*.parquet')"
}
