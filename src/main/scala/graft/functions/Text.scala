package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale corpus pipelines:
  * tokenization, n-gram shingling, language ID, quality scoring,
  * token counting, document fingerprinting.
  *
  * Everything here is composed from codegen'd Spark built-ins and
  * higher-order array functions — no UDFs — so the expressions stay
  * inside whole-stage codegen and scale linearly with executors.
  * Each function documents its DuckDB-oracle equivalent.
  */
object Text {

  /** Whitespace tokenization, empty tokens dropped, via the fused
    * native [[graft.plans.TokensExpr]] (one compiled pass; the
    * `filter` HOF of the reference spelling is CodegenFallback and
    * broke the codegen span on every text-family scan).
    * DuckDB: `list_filter(string_split_regex(s,'\s+'), t -> t <> '')`.
    */
  def tokens(text: Column): Column =
    graft.plans.TokensExpr.tokens(text)

  /** The declarative reference spelling of [[tokens]] — retained as
    * the independent implementation the native's bit-parity test
    * compares against (the cosineHof pattern).
    */
  def tokensHof(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** Word n-gram shingles (space-joined), empty when fewer than n
    * tokens. DuckDB: `list_transform(range(len(toks)-(n-1)),
    * i -> toks[i+1] || ' ' || ... || toks[i+n])`.
    */
  def shingles(toks: Column, n: Int): Column = {
    // same contract as the fused ShingleHashesExpr twin: n = 0 would
    // emit size+1 empty-string shingles that array_distinct collapses
    // into one "" every document shares — Jaccard 1.0 for all pairs
    require(n > 0, s"shingle width must be positive: $n")
    val gram = (i: Column) =>
      concat_ws(" ", (0 until n).map(j => element_at(toks, i + lit(j + 1))): _*)
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n), gram)
    ).otherwise(array().cast("array<string>"))
  }

  /** Marker stopword sets used by language ID and quality scoring.
    * Tiny closed classes are the standard cheap language signal
    * (n-gram/stopword heuristic); at 100 TB this is a broadcastable
    * constant folded into codegen, not a lookup join.
    */
  val enMarkers: Seq[String] = Seq("the", "a", "of", "and", "is", "to", "in")
  val frMarkers: Seq[String] = Seq("le", "la", "et", "de", "un", "les", "des")
  val esMarkers: Seq[String] = Seq("el", "la", "y", "de", "un", "los", "que")

  /** HOF reference spelling of a marker count — the parity baseline
    * TextSpec compares [[graft.plans.MarkerCountsExpr]] against.
    */
  private[graft] def markerCount(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(markers)))

  /** Deterministic language guess: argmax of marker-token counts with
    * fixed tie-break order en > fr > es > und. DuckDB mirror uses
    * `len(list_filter(...))` and the same CASE ordering. Counts come
    * from the fused native [[graft.plans.MarkerCountsExpr]] — one
    * compiled token pass instead of three interpreted filter() HOFs;
    * TextSpec pins count parity against the HOF spelling.
    */
  def langId(toks: Column): Column = {
    val mc = graft.plans.MarkerCountsExpr.marker_counts(toks)
    val en = mc.getField("en")
    val fr = mc.getField("fr")
    val es = mc.getField("es")
    when(en >= fr && en >= es && en > 0, lit("en"))
      .when(fr >= es && fr > 0, lit("fr"))
      .when(es > 0, lit("es"))
      .otherwise(lit("und"))
  }

  /** BPE-ish token estimate: ceil(chars / 4) — the standard ~4 chars
    * per subword heuristic, as a cheap pre-tokenization size estimate.
    */
  def tokenCountBpeEst(text: Column): Column =
    ceil(length(text).cast("double") / 4.0).cast("long")

  /** Punctuation character ratio over the fixed class `[.,!?;:]`
    * (sentence punctuation only — brackets/quotes/hyphens count as
    * content, which suits prose quality scoring). DuckDB mirror:
    * `regexp_replace(s, '[.,!?;:]', '', 'g')` — the 'g' flag is
    * required (DuckDB replaces only the first match by default).
    */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      (length(text) - length(regexp_replace(text, "[.,!?;:]", "")))
        .cast("double") / length(text).cast("double")
    ).otherwise(lit(0.0))

  /** Mean token length in characters (0.0 for empty docs). */
  def avgTokenLen(toks: Column): Column =
    when(size(toks) > 0,
      aggregate(transform(toks, t => length(t).cast("long")),
        lit(0L), (acc, x) => acc + x).cast("double")
        / size(toks).cast("double")
    ).otherwise(lit(0.0))

  /** Stopword (marker-token) fraction — higher means more natural
    * prose; near-zero flags keyword soup / boilerplate.
    */
  def stopwordRatio(toks: Column): Column =
    when(size(toks) > 0,
      graft.plans.MarkerCountsExpr.marker_counts(toks).getField("all")
        .cast("double") / size(toks).cast("double")
    ).otherwise(lit(0.0))

  /** Composite document quality score in [0,1]: rewards moderate
    * length and prose-like stopword density, penalizes punctuation
    * soup. Deterministic double arithmetic, mirrored 1:1 in SQL.
    */
  def qualityScore(text: Column, toks: Column): Column = {
    // coalesce first: least() SKIPS null operands, so a NULL-text doc
    // (toks null → size null) would take lenScore 1.0 — a missing
    // document outscoring every real short one. Null reads as empty:
    // lenScore 0, same as "".
    val lenScore =
      least(coalesce(size(toks), lit(0)).cast("double") / 100.0, lit(1.0))
    val stopScore = least(stopwordRatio(toks) * 5.0, lit(1.0))
    val punctPenalty = least(punctRatio(text) * 5.0, lit(1.0))
    Hashing.portableRound(
      lenScore * 0.5 + stopScore * 0.3 + (lit(1.0) - punctPenalty) * 0.2, 6)
  }

  /** PII patterns for corpus scrubbing. Restricted to syntax with
    * identical semantics in Java regex (Spark) and RE2 (DuckDB, the
    * oracle): character classes, bounded repetition, `\b`/`\d` — no
    * lookaround, no backreferences. Order matters when chaining
    * redactions: emails first (their local parts can contain digits
    * that would otherwise feed the phone/IP patterns), then phones,
    * then IPs.
    */
  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern: String = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val ipv4Pattern: String =
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Match count for one PII class.
    * DuckDB: `len(regexp_extract_all(s, pattern))`.
    */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast("long")

  /** Redacted text: every email / phone / IPv4 occurrence replaced by
    * a typed placeholder token. Spark's regexp_replace is global;
    * the DuckDB mirror needs the explicit 'g' flag. Placeholders
    * contain no digits or '@'/'.' runs, so a later pattern can never
    * match inside an earlier replacement.
    */
  def redactPii(text: Column): Column = {
    val noEmail = regexp_replace(text, emailPattern, "<EMAIL>")
    val noPhone = regexp_replace(noEmail, phonePattern, "<PHONE>")
    regexp_replace(noPhone, ipv4Pattern, "<IP>")
  }

  /** Whitespace/case-normalized text for exact-duplicate detection. */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** 128-bit content fingerprint of the normalized text (md5 hex).
    * Grouping by this column is the exact-dedup primitive: at 100 TB
    * it is a single hash-shuffle on a 32-byte key instead of the full
    * document payload.
    */
  def docFingerprint(text: Column): Column =
    Hashing.fingerprint(normalized(text))

  /** Rolling-hash parameters (shared with the SQL oracle). */
  val rollB: Long = 1000003L
  val rollM: Long = 2147483647L

  /** Polynomial rolling-hash fingerprint over the token stream
    * (Rabin–Karp shape): h = fold(h·B + hash(tok) mod M). Order
    * sensitive — unlike the set-based minhash sketch, reordered
    * tokens change the fingerprint — and incremental: appending a
    * token is O(1), the property streaming fingerprinters rely on.
    * Left fold with the first token as seed, matching SQL
    * `list_reduce` semantics. NULL for empty documents.
    */
  def rollingFingerprint(toks: Column): Column =
    graft.plans.RollingFpExpr.rolling_fp(toks)

  /** The HOF reference spelling of [[rollingFingerprint]] — per-token
    * interpreted Md5→Conv→Pmod chains, kept as the independent
    * implementation the native expression's parity spec compares
    * against (the same pattern as cosineHof vs the codegen cosine).
    */
  def rollingFingerprintHof(toks: Column): Column = {
    val hs = transform(toks, t => pmod(Hashing.hash60(t), lit(rollM)))
    // fold from 0 ≡ DuckDB's seedless list_reduce: 0·B + h₁ = h₁
    when(size(toks) > 0,
      aggregate(hs, lit(0L), (acc, x) => pmod(acc * rollB + x, lit(rollM)))
    ).otherwise(lit(null).cast("long"))
  }

  /** Distributed BPE merge training (Sennrich et al. 2016) — learn the
    * top `nMerges` byte-pair merges over the corpus: start from
    * per-character symbol sequences (plus the `</w>` end-of-word
    * marker), and each round merge the most frequent adjacent symbol
    * pair everywhere it occurs, greedily left to right. Returns the
    * learned merge table (rank, lhs, rhs, merged, pair_count) — the
    * artifact a tokenizer ships.
    *
    * Scale shape is the standard trainer trick made distributed: the
    * corpus is scanned ONCE into the word-frequency table, and every
    * merge round runs over that VOCABULARY-sized state (word, syms, n)
    * — pair counting weights each word's pairs by its corpus count, so
    * no round ever touches the corpus again. Rounds are a driver loop
    * of: one windowed pair count + TakeOrdered(1) argmax (count desc,
    * then lexicographic pair — a total order, so the chosen merge is
    * deterministic in any engine), then one windowed merge apply. The
    * state localCheckpoints each round to keep the plan linear in
    * rounds, bounded by vocabulary size, never corpus size.
    *
    * Greedy left-to-right overlap resolution is expressed portably as
    * window algebra rather than a fold: candidate positions (sym = a,
    * next = b) group into islands of consecutive positions
    * (pos − row_number), and within an island exactly the odd-ranked
    * candidates apply — "aaaa" under (a,a) merges positions 0 and 2
    * into [aa, aa], exactly the reference trainer's behaviour. A
    * symbol at an applied position becomes the merged pair; the
    * symbol AFTER an applied position is consumed and dropped.
    */
  def bpeMerges(docs: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String, nMerges: Int)
      : org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrain(docs, textCol, nMerges)._1
      .toDF("rank", "lhs", "rhs", "merged", "pair_count")
  }

  /** Apply a trained BPE segmentation to the corpus: per document,
    * the word count and the BPE token count (each word contributing
    * its merged-symbol sequence length, `</w>` marker included).
    * The trained state is the VOCABULARY-sized (word → syms) table,
    * so encoding is one tokenize scan joined against a model table
    * through [[ModelJoin.sizeGated]] — broadcast below the gate,
    * shuffle-hash on the already-exploded word key above it; the
    * merge rounds themselves never touch the corpus (see
    * [[bpeMerges]]).
    */
  def bpeEncodeCounts(docs: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, nMerges: Int)
      : org.apache.spark.sql.DataFrame =
    bpeEncodeCountsFrom(docs, idCol, textCol,
      bpeTrain(docs, textCol, nMerges)._2)

  /** Encode against an already-trained `(word, n, syms)` vocabulary
    * state (e.g. [[bpeTrain]]'s output persisted as the write-once
    * tokenizer artifact) — the steady-state corpus-encoding path:
    * one tokenize scan, no training rounds. Out-of-vocabulary words
    * (fresh documents always contain some) count as character-level
    * segmentation — `length(word) + 1` symbols (chars + the `</w>`
    * marker, the untrained-word state); they are never silently
    * dropped from either count.
    */
  def bpeEncodeCountsFrom(docs: org.apache.spark.sql.DataFrame,
                          idCol: String, textCol: String,
                          state: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val wlens = state.select(col("word"), size(col("syms")).as("wlen"))
    val words = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("word"))
    ModelJoin.sizeGated(words, wlens, Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(coalesce(col("wlen"), length(col("word")) + lit(1)))
          .cast("long").as("n_bpe_tokens"))
  }

  /** Per-language BPE compression — the tokenizer-fertility eval: how
    * many character-level symbols (chars + `</w>`, the untrained
    * state) the learned merges collapse into each token, per
    * language. Languages whose words the vocabulary covers poorly
    * show compression → 1 (every symbol survives); well-covered ones
    * approach chars-per-word. Same one-scan shape as
    * [[bpeEncodeCountsFrom]], grouped by language; OOV falls to the
    * character-level count on both sides of the ratio.
    */
  def bpeCompressionByLang(docs: org.apache.spark.sql.DataFrame,
                           textCol: String, langCol: String,
                           state: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val wlens = state.select(col("word"), size(col("syms")).as("wlen"))
    val words = docs.select(col(langCol).as("lang"),
      explode(tokens(col(textCol))).as("word"))
    ModelJoin.sizeGated(words, wlens, Seq("word"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(length(col("word")) + lit(1)).cast("long").as("n_char_syms"),
        sum(coalesce(col("wlen"), length(col("word")) + lit(1)))
          .cast("long").as("n_bpe_tokens"))
      .withColumn("compression", Hashing.portableRound(
        col("n_char_syms").cast("double")
          / col("n_bpe_tokens").cast("double"), 6))
  }

  /** The shared training loop: returns the merge list and the final
    * (word, n, syms) vocabulary state. Package-visible so callers can
    * persist the trained state once (the tokenizer is a write-once
    * artifact) and encode against it repeatedly via
    * [[bpeEncodeCountsFrom]].
    */
  private[graft] def bpeTrain(docs: org.apache.spark.sql.DataFrame,
                              textCol: String, nMerges: Int)
      : (Seq[(Long, String, String, String, Long)],
         org.apache.spark.sql.DataFrame) = {
    val (merges, st, _) = bpeTrainIncremental(docs, textCol, nMerges)
    (merges, st)
  }

  /** Adjacent symbol pairs WITH multiplicity, encoded `a + '\n' + b`.
    * Unambiguous: symbols come from whitespace-split tokens (plus
    * `</w>` and their concatenations), so they never contain a
    * newline — splitting at the FIRST '\n' recovers (a, b) exactly.
    */
  private def adjPairKeys(syms: Column): Column =
    when(size(syms) >= 2,
      zip_with(slice(syms, lit(1), size(syms) - 1),
        slice(syms, lit(2), size(syms) - 1),
        (x, y) => concat(x, lit("\n"), y)))
      .otherwise(array().cast("array<string>"))

  /** Greedy left-to-right application of merge (a, b) to a symbol
    * array, as ONE row-local fold — no explode, no window, no join:
    * walk the positions, and when the current symbol is `a`, the next
    * is `b`, and the previous position did not just merge, emit the
    * merged symbol and consume the next ("aaaa" under (a,a) →
    * [aa, aa]: positions 0 and 2 apply — exactly the island algebra
    * the full trainer spells as windows, TextSpec pins the parity).
    * `get()` (not element_at) reads past the end as NULL under ANSI,
    * and `null === b` is falsy, so the last position always passes
    * through.
    */
  private def bpeApplyMerge(syms: Column, a: String, b: String): Column = {
    val zero = struct(
      array().cast("array<string>").as("out"), lit(false).as("skip"))
    aggregate(
      sequence(lit(1), size(syms)),
      zero,
      (acc, i) => {
        val out = acc.getField("out")
        val cur = get(syms, i - 1)
        val nxt = get(syms, i)
        when(acc.getField("skip"),
          struct(out.as("out"), lit(false).as("skip")))
          .when(cur === a && nxt === b,
            struct(concat(out, array(lit(a + b))).as("out"),
              lit(true).as("skip")))
          .otherwise(
            struct(concat(out, array(cur)).as("out"),
              lit(false).as("skip")))
      },
      acc => acc.getField("out"))
  }

  /** UTF-8 byte order — the string order BOTH engines rank by (Spark's
    * UTF8String and DuckDB compare binary UTF-8 = code-point order;
    * Java's String.compareTo compares UTF-16 units, which disagrees
    * for supplementary-plane symbols), so the driver-side argmax
    * tiebreak must use it.
    */
  private def u8Less(x: String, y: String): Boolean = {
    val xa = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val ya = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < xa.length && i < ya.length) {
      val d = (xa(i) & 0xff) - (ya(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    xa.length < ya.length
  }

  /** INCREMENTAL BPE training — the production-shaped trainer (the
    * fast-BPE trick, distributed): between rounds only the words
    * CONTAINING the just-merged pair change, so the adjacent-pair
    * counts are maintained as a DELTA (retract the affected words'
    * old pairs, add their rewritten ones) instead of re-aggregating
    * the whole vocabulary state every round. Per round:
    *
    *  - the argmax runs on the driver-held pair-count map — the
    *    classical trainer's in-memory state, bounded by distinct
    *    PAIR TYPES (≤ |distinct symbols|², vocabulary-scale, never
    *    corpus-scale) — under the exact (count DESC, a, b) total
    *    order of the full re-count ([[u8Less]] keeps the tiebreak in
    *    both engines' string order);
    *  - ONE distributed job aggregates the pair-count delta from the
    *    affected words' old vs rewritten symbol arrays —
    *    [[bpeApplyMerge]] is a row-local FOLD (no explode, no window,
    *    no join: the full trainer's per-round windowed re-aggregation
    *    is exactly what made it vocabulary-priced);
    *  - the vocabulary state advances as ONE projection over the
    *    previous round's (lazy) localCheckpoint leaf — affected rows
    *    rewrite in place, everything else passes through — so plan
    *    depth stays 1 and partition count constant whatever the merge
    *    budget; every [[bpeDurableEvery]] rounds the state is written
    *    to durable scratch parquet and re-read, so a long train
    *    neither grows an unbounded block chain nor loses more than
    *    one durable window to an executor loss (recovery = rerun from
    *    the last durable checkpoint; the driver-held map is
    *    loss-proof).
    *
    * So per-round cost is one row-local pass with a pair-type-sized
    * aggregation — not the whole-vocabulary windowed re-aggregation
    * the full trainer pays — which is what lifts the practical merge
    * budget from ~256 to real tokenizer vocabularies
    * (nMerges ≤ 65536). Returns (merges, final state, final pair-count
    * map — exposed for the spec's recount pin).
    *
    * Character splitting is code-point aware on BOTH sides: Spark 4's
    * `split(word, "")` advances by code point (never splits a
    * surrogate pair — TextSpec pins an emoji corpus), matching the
    * DuckDB mirror's `word[i:i]` character slicing.
    */
  private[graft] def bpeTrainIncremental(
      docs: org.apache.spark.sql.DataFrame, textCol: String, nMerges: Int,
      durableEvery: Int = bpeDurableEvery,
      checkpointDir: Option[String] = None)
      : (Seq[(Long, String, String, String, Long)],
         org.apache.spark.sql.DataFrame,
         scala.collection.Map[(String, String), Long]) = {
    require(nMerges >= 1 && nMerges <= 65536,
      s"nMerges must be in [1, 65536] (got $nMerges)")
    require(durableEvery >= 1,
      s"durableEvery must be >= 1 (got $durableEvery)")
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    val ckpt = checkpointDir.map(new BpeCheckpoint(spark, _))

    // ---- ONE corpus scan → word-frequency table → char-level state.
    // `pairs` is the DISTINCT adjacent-pair index per word, the column
    // the per-round affected-word filter reads (a cheap array_contains
    // scan instead of re-deriving adjacency every round).
    val wc = docs.select(explode(tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    // corpus fingerprint (distinct words, total occurrences): resuming
    // against DIFFERENT docs would silently train a chimera — the
    // guard costs one corpus scan, the rounds it saves cost thousands
    val corpusFp: (Long, Long) = {
      val r = wc.agg(count(lit(1)), sum(col("n"))).head()
      (r.getLong(0), r.getLong(1))
    }
    // resume: the newest COMPLETE checkpoint (state + merges behind an
    // ok marker) restarts the train at its recorded round — the
    // recovery path after a crash or executor loss mid-train
    val resumed = ckpt.flatMap(_.loadLatest(corpusFp))
    val merges = scala.collection.mutable.ArrayBuffer[
      (Long, String, String, String, Long)]()
    resumed.foreach { case (k, _, ms) =>
      require(k <= nMerges,
        s"checkpoint holds $k merges, ahead of the requested $nMerges — " +
          "request at least as many merges as the checkpoint")
      merges ++= ms
    }
    var st = resumed.map(_._2).getOrElse(
      wc.select(col("word"), col("n"),
          concat(split(col("word"), ""), array(lit("</w>"))).as("syms"))
        .withColumn("pairs", array_distinct(adjPairKeys(col("syms"))))
        .localCheckpoint(true))

    // ---- driver-held pair counts (pair TYPES, vocabulary-scale) —
    // rebuilt from the (possibly resumed) state, never persisted
    val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
    def splitKey(k: String): (String, String) = {
      val i = k.indexOf('\n')
      (k.substring(0, i), k.substring(i + 1))
    }
    st.select(explode(adjPairKeys(col("syms"))).as("p"), col("n"))
      .groupBy(col("p")).agg(sum(col("n")).as("cnt")).collect()
      .foreach(r => pc(splitKey(r.getString(0))) = r.getLong(1))

    def better(x: ((String, String), Long), y: ((String, String), Long))
        : Boolean =
      if (x._2 != y._2) x._2 > y._2
      else if (x._1._1 != y._1._1) u8Less(x._1._1, y._1._1)
      else u8Less(x._1._2, y._1._2)

    var exhausted = false
    var sinceDurable = 0
    var prevDurable: Option[String] = None
    for (i <- merges.size + 1 to nMerges if !exhausted) {
      val best = pc.iterator.filter(_._2 > 0)
        .reduceOption((x, y) => if (better(x, y)) x else y)
      if (best.isEmpty) exhausted = true
      else {
        val ((a, b), cnt) = best.get
        merges += ((i.toLong, a, b, a + b, cnt))
        val key = a + "\n" + b
        // the delta, from the PREVIOUS state in one aggregation over
        // the affected words: old pairs retract (−n), rewritten pairs
        // add (+n). [[bpeApplyMerge]] is a row-local fold — no
        // explode-window-join rewrite, so the round has no shuffle
        // beyond this tiny pair aggregation, and (join estimation
        // multiplies plan size statistics; projections don't) the
        // checkpointed state's origin stats stay flat instead of
        // compounding into BigInts with exponentially many digits
        // that hang plan analysis.
        val hit = array_contains(col("pairs"), key)
        val delta = st.filter(hit)
          .select(col("n"), adjPairKeys(col("syms")).as("olds"),
            adjPairKeys(bpeApplyMerge(col("syms"), a, b)).as("news"))
          .select(explode(concat(
            transform(col("news"), pk => struct(pk.as("p"), col("n").as("d"))),
            transform(col("olds"), pk => struct(pk.as("p"), (-col("n")).as("d")))))
            .as("e"))
          .groupBy(col("e.p")).agg(sum(col("e.d")).as("d")).collect()
        delta.foreach { r =>
          val k = splitKey(r.getString(0))
          val nv = pc.getOrElse(k, 0L) + r.getLong(1)
          if (nv == 0L) pc.remove(k) else pc(k) = nv
        }
        // after a merge no (a,b) adjacency survives anywhere — the
        // delta must have retracted the pair to exactly zero
        assert(!pc.contains((a, b)),
          s"pair ($a,$b) survived its own merge round — delta algebra broken")
        // state advance = ONE projection over the previous leaf (plan
        // depth 1, partition count constant): affected rows rewrite,
        // everything else passes through untouched. The lazy
        // localCheckpoint materializes when the NEXT round's delta
        // job (or the caller) first reads it — one distributed job
        // per round total.
        val newSyms = when(hit, bpeApplyMerge(col("syms"), a, b))
          .otherwise(col("syms"))
        st = st.select(col("word"), col("n"), newSyms.as("syms"),
            when(hit, array_distinct(adjPairKeys(newSyms)))
              .otherwise(col("pairs")).as("pairs"))
          .localCheckpoint(false)
        sinceDurable += 1
        if (sinceDurable >= durableEvery) {
          // durable window boundary: persist the full state and the
          // merges-so-far, re-read the state — frees every accumulated
          // block, and a crash/executor loss now costs at most one
          // window's rounds (resume via checkpointDir)
          st = ckpt match {
            case Some(c) => c.write(merges.size, st, merges.toSeq, corpusFp)
            case None =>
              // no resume requested: plain scratch round-trip (block
              // bound only), previous window reclaimed immediately
              val dir = graft.Stage.scratchDir(spark, "bpe-train-ckpt")
              st.write.mode("overwrite").parquet(dir)
              prevDurable.foreach { d =>
                val p = new org.apache.hadoop.fs.Path(d)
                p.getFileSystem(spark.sparkContext.hadoopConfiguration)
                  .delete(p, true)
              }
              prevDurable = Some(dir)
              spark.read.parquet(dir)
          }
          sinceDurable = 0
        }
      }
    }
    // completion checkpoint: an interrupted CALLER (not just an
    // interrupted train) can extend from the finished state later
    if (sinceDurable > 0 || merges.isEmpty)
      ckpt.foreach(c => c.write(merges.size, st, merges.toSeq, corpusFp))
    (merges.toSeq, st.select(col("word"), col("n"), col("syms")), pc)
  }

  /** Versioned durable checkpoints for [[bpeTrainIncremental]]:
    * `state-<k>` (the full vocabulary state incl. the pairs index) +
    * `merges-<k>` (the merge list so far) + `fp-<k>` (the corpus
    * fingerprint), made visible by an `ok-<k>` marker CREATED LAST —
    * a crash mid-write leaves no marker and the resume falls back to
    * the previous complete window. Older windows are reclaimed after
    * each successful write; the pair-count map is never persisted
    * (rebuilt from the state in one vocabulary-sized aggregation).
    */
  private[graft] final class BpeCheckpoint(
      spark: org.apache.spark.sql.SparkSession, dir: String) {
    import org.apache.hadoop.fs.Path
    private val root = new Path(dir)
    private val fs =
      root.getFileSystem(spark.sparkContext.hadoopConfiguration)

    /** Newest complete checkpoint: (merge count, state, merges). */
    def loadLatest(expectFp: (Long, Long))
        : Option[(Int, org.apache.spark.sql.DataFrame,
                  Seq[(Long, String, String, String, Long)])] = {
      if (!fs.exists(root)) return None
      // strict ok-<digits> match (length-bounded so an over-Int digit
      // string is skipped too): stray root entries (editor temps,
      // partial markers) must be ignored, not crash the whole train
      // with a NumberFormatException before it can even start
      val okName = "ok-(\\d{1,9})".r
      val ks = fs.listStatus(root).map(_.getPath.getName)
        .collect { case okName(k) => k.toInt }
      if (ks.isEmpty) return None
      val k = ks.max
      val fpRow = spark.read.parquet(s"$dir/fp-$k").head()
      require((fpRow.getLong(0), fpRow.getLong(1)) == expectFp,
        s"checkpoint at $dir was trained on a different corpus " +
          s"(fingerprint ${(fpRow.getLong(0), fpRow.getLong(1))} vs " +
          s"$expectFp) — refusing to resume")
      val ms = spark.read.parquet(s"$dir/merges-$k").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).sortBy(_._1).toSeq
      require(ms.size == k,
        s"checkpoint ok-$k holds ${ms.size} merges — torn checkpoint")
      Some((k, spark.read.parquet(s"$dir/state-$k"), ms))
    }

    /** Write window `k`; returns the re-read state. */
    def write(k: Int, st: org.apache.spark.sql.DataFrame,
              ms: Seq[(Long, String, String, String, Long)],
              fp: (Long, Long)): org.apache.spark.sql.DataFrame = {
      import spark.implicits._
      st.write.mode("overwrite").parquet(s"$dir/state-$k")
      ms.toDF("rank", "lhs", "rhs", "merged", "pair_count")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/merges-$k")
      Seq(fp).toDF("n_words", "n_occurrences")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/fp-$k")
      fs.create(new Path(root, s"ok-$k"), true).close()
      // reclaim every OLDER complete window (k stays; a concurrent
      // reader of an old window is not a supported mode — the trainer
      // is a single-writer artifact builder)
      val okName = "ok-(\\d{1,9})".r
      fs.listStatus(root).map(_.getPath.getName)
        .collect { case okName(old) if old.toInt < k => old.toInt }
        .foreach { old =>
          fs.delete(new Path(root, s"ok-$old"), false)
          Seq(s"state-$old", s"merges-$old", s"fp-$old").foreach(p =>
            fs.delete(new Path(root, p), true))
        }
      spark.read.parquet(s"$dir/state-$k")
    }
  }

  /** Durable-checkpoint the state every N rounds (executor-loss
    * recovery window + block-chain bound for long trains).
    */
  private[graft] val bpeDurableEvery = 64

  /** The original full-recount trainer — every round re-aggregates
    * pair counts over the WHOLE vocabulary state (posexplode + window
    * + collect_list over every word). Kept as the independent
    * reference implementation the incremental trainer's parity spec
    * compares against (the cosineHof pattern); its per-round cost is
    * why it is capped at 256 merges and no production caller uses it.
    */
  private[graft] def bpeTrainFull(docs: org.apache.spark.sql.DataFrame,
                                  textCol: String, nMerges: Int)
      : (Seq[(Long, String, String, String, Long)],
         org.apache.spark.sql.DataFrame) = {
    require(nMerges >= 1 && nMerges <= 256,
      s"nMerges must be in [1, 256] (got $nMerges)")
    import org.apache.spark.sql.expressions.Window
    val wc = docs.select(explode(tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    var st = wc.select(col("word"), col("n"),
      concat(split(col("word"), ""), array(lit("</w>"))).as("syms"))
      .localCheckpoint(true)
    val merges =
      scala.collection.mutable.ArrayBuffer[(Long, String, String, String, Long)]()
    var exhausted = false
    for (i <- 1 to nMerges if !exhausted) {
      val byWord = Window.partitionBy(col("word")).orderBy(col("pos"))
      val pl = st.select(col("word"), col("n"),
        posexplode(col("syms")).as(Seq("pos", "sym")))
        .withColumn("nx", lead(col("sym"), 1).over(byWord))
      val best = pl.filter(col("nx").isNotNull)
        .groupBy(col("sym").as("a"), col("nx").as("b"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val a = best(0).getString(0); val b = best(0).getString(1)
        merges += ((i.toLong, a, b, a + b, best(0).getLong(2)))
        val applied = pl.filter(col("sym") === a && col("nx") === b)
          .select(col("word"), col("pos"))
          .withColumn("isl",
            col("pos") - row_number().over(byWord))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("word"), col("isl")).orderBy(col("pos"))))
          .filter(col("rk") % 2 === 1)
          .select(col("word"), col("pos"), lit(true).as("ap"))
        st = pl
          .join(applied, Seq("word", "pos"), "left")
          .join(applied.select(col("word"),
            (col("pos") + 1).as("pos"), col("ap").as("apPrev")),
            Seq("word", "pos"), "left")
          .filter(col("apPrev").isNull)
          .groupBy(col("word"), col("n"))
          .agg(transform(array_sort(collect_list(struct(col("pos"),
            when(col("ap").isNotNull, lit(a + b)).otherwise(col("sym"))
              .as("sym")))),
            s => s.getField("sym")).as("syms"))
          .localCheckpoint(true)
      }
    }
    (merges.toSeq, st)
  }
}
