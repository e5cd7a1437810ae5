package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.StatFunctions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. All pure
  * column expressions (codegen'd, engine-portable regex only — no \p
  * classes, whose semantics differ between regex engines).
  */
object TextAnalysis {

  /** Small high-frequency stopword sets per language for the n-gram/
    * stopword language-ID heuristic. Deliberately tiny and ASCII-safe —
    * the heuristic needs discrimination, not coverage. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une", "dans", "que", "pour"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "una", "es", "por", "con"))

  /** Lowercased whitespace tokens (codegen'd — one call per row, not an
    * interpreted filter lambda per token). */
  def words(c: Column): Column =
    graft.functions.WordNgramsExpr.ngrams(c, 1, distinct = false)

  /** Fraction of tokens that are stopwords of `lang`, 6-decimal rounded. */
  def stopwordFraction(c: Column, lang: String): Column = {
    val sw = stopwords(lang)
    val ws = words(c)
    round(
      size(filter(ws, w => w.isin(sw.map(x => x: Any): _*))).cast("double") /
        greatest(size(ws), lit(1)),
      6)
  }

  /** Argmax language by stopword fraction with deterministic tie-break on
    * language code; "und" (undetermined) when no stopwords hit at all. */
  def langId(c: Column): Column = {
    val langs = stopwords.keys.toSeq.sorted
    val scored = langs.map(l => struct(stopwordFraction(c, l).as("s"),
      lit(l).as("l")))
    // array_max on struct orders lexicographically: (score, lang), so
    // equal scores resolve to the lexicographically LARGEST lang code
    // (fr > es > en > de). That largest-code preference IS the contract
    // — the q28 DuckDB oracle's CASE cascade encodes the same order.
    val best = array_max(array(scored.map(s =>
      struct(s.getField("s").as("s"), s.getField("l").as("l"))): _*))
    when(best.getField("s") > 0.0, best.getField("l")).otherwise(lit("und"))
  }

  /** Whitespace token count. */
  def nTokensWhitespace(c: Column): Column = size(words(c))

  /** BPE-ish token count: letter runs, digit runs, other non-space chars
    * (ASCII classes only — identical in Java regex and RE2). */
  val tokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def nTokensRegex(c: Column): Column =
    size(regexp_extract_all(c, lit(tokenPattern), lit(0)))

  /** C0/C1-lite control characters stripped by [[cleanText]]: explicit
    * code-point ranges (NOT \p{Cc}/\p{Cf} categories, whose membership
    * can drift across engines' Unicode tables) — tab/newline/CR survive.
    * Identical byte-for-byte semantics in Java regex and RE2. */
  val controlCharPattern = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"

  /** Web-text canonicalization: strip control characters, then Unicode
    * NFC-compose (codegen'd [[graft.functions.UnicodeNormalizeExpr]]) —
    * the cleaning stage that makes exact/near-dup hashing and n-gram
    * stats agree across differently-encoded copies of the same text
    * (e.g. "e" + U+0301 vs precomposed U+00E9). Map-only, stays inside
    * whole-stage codegen. */
  def cleanText(c: Column, form: String = "NFC"): Column =
    graft.functions.UnicodeNormalizeExpr.normalize(
      regexp_replace(c, controlCharPattern, ""), form)

  /** Per-group (source / domain / language) quality pass-rate table —
    * the "filter rate by domain" diagnostic of the Gopher/RefinedWeb
    * pipeline writeups, and the input for deciding which strata to
    * up/downsample alongside [[Sampling.mixStats]]. One
    * map-side-combined groupBy; integer counts aggregate associatively
    * so the result is bit-stable across partitionings (a mean of
    * per-doc double scores would not be). */
  def qualityByGroup(df: DataFrame, groupCol: String, textCol: String,
      threshold: Double): DataFrame =
    df.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(qualityScore(col(textCol)) >= threshold, 1L).otherwise(0L))
          .as("n_pass"))
      .withColumn("pass_rate",
        round(col("n_pass").cast("double") / col("n_docs").cast("double"), 6))

  /** Quality-signal bundle (length, token stats, character-class ratios).
    * Ratios are over character length; 6-decimal rounded. */
  def qualitySignals(c: Column): Map[String, Column] = {
    val len = length(c).cast("double")
    val safeLen = greatest(len, lit(1.0))
    def classRatio(pattern: String): Column =
      round(size(regexp_extract_all(c, lit(pattern), lit(0))).cast("double") / safeLen, 6)
    val ws = words(c)
    Map(
      "n_chars" -> length(c).cast("long"),
      "n_words" -> size(ws).cast("long"),
      "mean_word_len" -> meanWordLen(ws),
      "punct_ratio" -> classRatio("[^A-Za-z0-9\\s]"),
      "digit_ratio" -> classRatio("[0-9]"),
      "upper_ratio" -> classRatio("[A-Z]"),
      "space_ratio" -> classRatio("[ ]"),
      "stopword_ratio_en" -> stopwordFraction(c, "en"))
  }

  /** Mean character length of a word array, 6-decimal rounded: the one
    * word-length rule of [[qualitySignals]] and [[repetitionTable]]. The
    * length sum is the length of the words joined with "" (codegen'd, no
    * per-word lambda); null for a null array. */
  private def meanWordLen(ws: Column): Column =
    round(length(array_join(ws, "")).cast("double") /
      greatest(size(ws), lit(1)).cast("double"), 6)

  /** Composite quality score in [0,1]: rewards mid-length documents and
    * normal word shape, penalizes punctuation/digit soup. The exact
    * weighting is this library's own spec (the reference has no text
    * quality op); what matters is determinism and monotonicity. */
  def qualityScore(c: Column): Column = {
    val s = qualitySignals(c)
    val lenScore = least(s("n_chars").cast("double") / 200.0, lit(1.0))
    val wordScore = when(s("mean_word_len").between(3.0, 10.0), 1.0).otherwise(0.5)
    val punctPenalty = least(s("punct_ratio") * 2.0, lit(1.0))
    val digitPenalty = least(s("digit_ratio") * 2.0, lit(1.0))
    round(
      greatest(lit(0.0),
        lenScore * 0.4 + wordScore * 0.3 +
          (lit(1.0) - punctPenalty) * 0.2 + (lit(1.0) - digitPenalty) * 0.1),
      6)
  }

  /** Word n-grams WITH multiplicity — repetition analysis needs the
    * repeats that the dedup shingle tables deliberately distinct away.
    * Empty array when the document has fewer than n words. Backed by
    * the codegen'd [[graft.functions.WordNgramsExpr]] (the interpreted
    * higher-order form cost ~µs per ELEMENT; this is one call per row). */
  def wordNgrams(c: Column, n: Int): Column =
    graft.functions.WordNgramsExpr.ngrams(c, n, distinct = false)

  /** Repetition signals: what fraction of the document's word n-grams
    * are repeats of an earlier n-gram (duplicate-n-gram fraction, the
    * Gopher repetition filters — Rae et al., arXiv:2112.11446 §A1.1).
    * Pure per-row column expressions over the codegen'd
    * [[graft.functions.WordNgramsExpr]] (all n-grams, then the distinct
    * ones): no shuffle, scales as a map-only pass at any corpus size.
    * A null text gives null counts. */
  def repetitionSignals(c: Column, n: Int): Map[String, Column] = {
    val total = size(wordNgrams(c, n))
    val nd = size(graft.functions.WordNgramsExpr.ngrams(c, n, distinct = true))
    Map(
      s"n_${n}grams" -> total.cast("long"),
      s"n_distinct_${n}grams" -> nd.cast("long"),
      s"dup_${n}gram_frac" -> round(
        when(total > 0,
          lit(1.0) - nd.cast("double") / total.cast("double"))
          .otherwise(lit(0.0)), 6))
  }

  /** Per-document repetition signals as ONE per-row projection of
    * [[words]], [[repetitionSignals]] and the [[qualitySignals]]
    * word-length rule, all codegen'd: a map-only pass with no shuffle,
    * at any corpus size. A null text counts as no words (zeros, where
    * the expression forms give nulls). Each row gets its own statistics,
    * whatever its id: rows that share an id, or have a null one, are
    * not pooled.
    * Output: id, n_words, mean_word_len, n_{n}grams,
    * n_distinct_{n}grams, dup_{n}gram_frac. */
  def repetitionTable(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 2, "n-gram size must be >= 2")
    val ws = words(col(textCol))
    val rep = repetitionSignals(col(textCol), n)
    df.select(
      col(idCol).as("id"),
      coalesce(size(ws).cast("long"), lit(0L)).as("n_words"),
      coalesce(meanWordLen(ws), lit(0.0)).as("mean_word_len"),
      coalesce(rep(s"n_${n}grams"), lit(0L)).as(s"n_${n}grams"),
      coalesce(rep(s"n_distinct_${n}grams"), lit(0L)).as(s"n_distinct_${n}grams"),
      rep(s"dup_${n}gram_frac").as(s"dup_${n}gram_frac"))
  }

  /** LINE-level repetition signals — the other half of the Gopher
    * repetition family (Rae et al., arXiv:2112.11446 §A1.1:
    * duplicate-LINE fraction and duplicate-line CHARACTER fraction;
    * [[repetitionTable]] covers the n-gram half). Boilerplate-heavy
    * web text (nav bars, cookie banners, footer spam) repeats whole
    * lines; n-gram fractions dilute that signal across the document.
    *
    * Rules (identical on the q381 oracle side): lines split on `\n`,
    * space-trimmed, empty lines dropped (a `\r` from CRLF input stays
    * part of the line — deliberately pinned by the fixture);
    * dup_line_frac = (lines − distinct lines) / lines;
    * dup_line_char_frac = chars in lines occurring >1 (ALL their
    * occurrences) / total line chars; max_line_rep = the hottest
    * line's occurrence count. Docs with no non-empty lines (or null
    * text) emit zeros.
    *
    * Scale shape: explode → two map-side-combined hash aggregates
    * keyed by (id, line) then id — no window, no collect_list, the
    * hottest boilerplate line partial-aggregates before the shuffle. */
  def lineRepetitionTable(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val lines = df
      .select(col(idCol).as("id"),
        explode(split(col(textCol), "\n")).as("l0"))
      .select(col("id"), trim(col("l0")).as("l"))
      .where(length(col("l")) > 0)
    val perLine = lines.groupBy("id", "l")
      .agg(count(lit(1)).as("c"))
      .select(col("id"), col("c"), (col("c") * length(col("l"))).as("ch"))
    val agg = perLine.groupBy("id").agg(
      sum(col("c")).as("nl"),
      count(lit(1)).as("ndl"),
      max(col("c")).as("mx"),
      sum(col("ch")).as("tot"),
      sum(when(col("c") > 1, col("ch")).otherwise(lit(0L))).as("dup"))
    df.select(col(idCol).as("id")).join(agg, Seq("id"), "left")
      .select(
        col("id"),
        coalesce(col("nl"), lit(0L)).as("n_lines"),
        coalesce(col("ndl"), lit(0L)).as("n_distinct_lines"),
        coalesce(col("mx"), lit(0L)).as("max_line_rep"),
        round(when(col("nl") > 0,
          (col("nl") - col("ndl")).cast("double") /
            col("nl").cast("double")).otherwise(lit(0.0)), 6)
          .as("dup_line_frac"),
        round(when(col("tot") > 0,
          col("dup").cast("double") / col("tot").cast("double"))
          .otherwise(lit(0.0)), 6)
          .as("dup_line_char_frac"))
  }

  /** Gopher-style document filter: word-count window, word-shape window,
    * repetition ceiling. Returns the per-rule booleans alongside the
    * composite `keep` so a pipeline can audit WHY a document dropped —
    * the practical requirement that separates a filter stage from a
    * black box.
    *
    * DataFrame-in/DataFrame-out: the rules read [[repetitionTable]]'s
    * one codegen'd per-row projection (n = 2), so the filter is a
    * map-only pass with no shuffle (q43 runs it).
    * Output: id, n_words, mean_word_len, n_2grams, n_distinct_2grams,
    * dup_2gram_frac, r_word_count, r_word_shape, r_repetition, keep. */
  def gopherFilter(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 5, maxWords: Int = 100000,
      maxDupBigramFrac: Double = 0.2): DataFrame = {
    val rep = repetitionTable(df, idCol, textCol, 2)
    val rWords = col("n_words").between(minWords, maxWords)
    val rShape = col("mean_word_len").between(2.0, 12.0)
    val rRep = col("dup_2gram_frac") <= maxDupBigramFrac
    rep.select(col("id"), col("n_words"), col("mean_word_len"),
      col("n_2grams"), col("n_distinct_2grams"), col("dup_2gram_frac"),
      rWords.as("r_word_count"), rShape.as("r_word_shape"),
      rRep.as("r_repetition"), (rWords && rShape && rRep).as("keep"))
  }

  /** PII patterns — engine-portable (identical semantics in Java regex,
    * RE2 and DuckDB): no lookaround, no \b on the phone form. Conservative
    * by design; a scrubbing stage wants predictable, auditable matches. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  val phonePattern = "\\+[0-9][0-9 ]{7,}[0-9]"

  /** PII detection + redaction signals: match counts per class, a
    * has_pii flag, and the text with matches replaced by typed tokens
    * (email -> ip -> phone order, so an already-redacted token is never
    * re-matched). Pure per-row expressions — a map-only scrubbing pass
    * at any corpus size. */
  def piiSignals(c: Column): Map[String, Column] = {
    def n(p: String) = size(regexp_extract_all(c, lit(p), lit(0))).cast("long")
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(c, emailPattern, "[EMAIL]"),
          ipv4Pattern, "[IP]"),
        phonePattern, "[PHONE]")
    Map(
      "n_emails" -> n(emailPattern),
      "n_ipv4" -> n(ipv4Pattern),
      "n_phones" -> n(phonePattern),
      "has_pii" -> (n(emailPattern) + n(ipv4Pattern) + n(phonePattern) > 0),
      "text_redacted" -> redacted)
  }

  /** 60-bit document fingerprint: md5 of whitespace-normalized lowercase
    * text. Identical content modulo spacing/case maps to one fingerprint —
    * the cheap first stage of any dedup cascade. */
  def fingerprint(c: Column): Column =
    hash64(Dedup.normalizedText(c), 0)

  /** Convenience: append all text-analysis columns to a DataFrame. */
  def analyze(df: DataFrame, textCol: String): DataFrame = {
    val c = col(textCol)
    val sig = qualitySignals(c)
    sig.toSeq.sortBy(_._1).foldLeft(df) { case (d, (name, expr)) =>
      d.withColumn(name, expr)
    }
      .withColumn("lang_pred", langId(c))
      .withColumn("n_tokens_ws", nTokensWhitespace(c))
      .withColumn("n_tokens_regex", nTokensRegex(c))
      .withColumn("quality_score", qualityScore(c))
      .withColumn("fingerprint", fingerprint(c))
  }

  /** Context-window chunking: split each document into fixed-size word
    * windows with `overlap` words shared between consecutive chunks —
    * the splitting step before tokenization/sequence packing. Chunk
    * starts advance by `chunkSize - overlap` while `start + overlap`
    * stays inside the document, so every chunk carries at least
    * `overlap + 1` words and at least one word no earlier chunk has
    * (no chunk is a strict subset of its predecessor). Entirely
    * codegen'd expressions (explode + slice + array_join, no lambda
    * HOFs): one narrow map-side pass, rows fan out by chunks-per-doc,
    * no shuffle — at 100 TB this is a pure map stage.
    * Output: (idCol, chunk_id, n_words, chunk). */
  /** Sequence packing: next-fit token-budget binning of an ordered chunk
    * stream — each document's chunks fill pack 0 until the running total
    * crosses `budget`, then pack 1, and so on (the streaming next-fit
    * packing of sequence-packing pipelines; a pack may overflow by at
    * most one chunk, the standard trade for a single-pass assignment).
    * `pack_id = floor(tokens-before-this-chunk / budget)`.
    *
    * Scale design (100 TB): ONE window partitioned by document id —
    * per-document state only, never a global order. Cross-document
    * consolidation (packing small documents together) belongs in a
    * separate per-partition pass downstream; a corpus-wide ordered
    * window would serialize on one reducer and is exactly what this
    * operator refuses to do. */
  def packChunks(chunks: DataFrame, idCol: String, orderCol: String,
      tokensCol: String, budget: Int): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = Window.partitionBy(col(idCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    chunks
      .withColumn("__before",
        coalesce(sum(col(tokensCol).cast("long")).over(w), lit(0L)))
      .withColumn("pack_id",
        floor(col("__before").cast("double") / budget).cast("int"))
      .drop("__before")
  }

  /** Corpus-wide concat-and-slice sequence packing — the GPT-style
    * "concatenate every document in a fixed order, cut the token stream
    * into length-`seqLen` training sequences" layout, as per-document
    * placement metadata: each document's absolute token offset in the
    * concatenated stream and the first/last training sequence it lands
    * in.
    *
    * This is the corpus-wide ordered computation [[packChunks]] refuses
    * to do with a window — done scalably instead with the repo's
    * two-phase distributed prefix sum (same shape as
    * [[Ranking.avgRanks]]): range-partition by the id, per-partition
    * token subtotals to the driver (<= #partitions rows), prefix-sum +
    * broadcast the partition start offsets, then one narrow pass emits
    * each document's exclusive running offset. No global window, no
    * single-reducer sort; every stage is range/hash partitioned.
    *
    * Zero-token documents are excluded (they occupy no stream
    * positions). Output: (idCol, n_tokens, tok_start, first_seq,
    * last_seq, n_seqs) where first/last_seq = floor division of the
    * stream offsets by `seqLen`. */
  def globalSequencePack(df: DataFrame, idCol: String, textCol: String,
      seqLen: Long): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val p = spark.sessionState.conf.numShufflePartitions
    val counts = df
      .select(col(idCol).cast("long").as("id"),
        size(words(col(textCol))).cast("long").as("n"))
      .where(col("n") > 0)
      .repartitionByRange(p, col("id"))
      .sortWithinPartitions("id")
      .as[(Long, Long)]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val subtotals: Array[(Int, Long)] = counts.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var s = 0L
      it.foreach(s += _._2)
      Iterator.single((pid, s))
    }.collect()
    val offsets: Map[Int, Long] = {
      var cum = 0L
      subtotals.sortBy(_._1).map { case (pid, s) =>
        val e = (pid, cum); cum += s; e
      }.toMap
    }
    val bc = spark.sparkContext.broadcast(offsets)
    counts.mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var cum = bc.value(pid)
        it.map { case (id, n) =>
          val st = cum; cum += n; (id, n, st)
        }
      }
      .toDF("id", "n_tokens", "tok_start")
      .select(col("id").as(idCol), col("n_tokens"), col("tok_start"),
        expr(s"tok_start div ${seqLen}L").as("first_seq"),
        expr(s"(tok_start + n_tokens - 1) div ${seqLen}L").as("last_seq"))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)
  }

  /** Count-min sketch estimates with a DETERMINISTIC md5 hash family
    * (Cormode & Muthukrishnan 2005 — public algorithm): build `depth`
    * counter rows of `width` buckets over the corpus's token
    * occurrences, then answer each probe word with the min counter
    * across rows. Because the hash family is md5-derived (row r, word
    * w → md5₄₈("r:w") mod width), the sketch is bit-reproducible in
    * any engine — which is what lets an ORACLE hash-check a sketch:
    * est >= true count always, and the overestimate column quantifies
    * the collision error the width buys.
    *
    * Build is one explode → groupBy((row, bucket)) over depth copies of
    * the token stream (map-side combined, bounded depth×width result);
    * probes join the bounded counter table. The 100 TB posture of CMS:
    * counters merge by addition across any partitioning of the
    * corpus. */
  def countMinEstimates(
      df: DataFrame, textCol: String, probes: DataFrame,
      wordCol: String, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 2)
    val occ = df.select(explode(words(col(textCol))).as("w"))
    val rows = (0 until depth).map { r =>
      occ.select(lit(r).as("r"),
        expr(s"cast(conv(substring(md5(cast(concat('$r:', w) as binary)), 1, 12), 16, 10) as bigint) % $width")
          .as("bucket"))
    }.reduce(_ unionAll _)
    val counters = rows.groupBy("r", "bucket")
      .agg(count(lit(1)).as("cnt"))
    val p = probes.select(col(wordCol).as("word"))
    val probed = (0 until depth).map { r =>
      p.select(col("word"), lit(r).as("r"),
        expr(s"cast(conv(substring(md5(cast(concat('$r:', word) as binary)), 1, 12), 16, 10) as bigint) % $width")
          .as("bucket"))
    }.reduce(_ unionAll _)
    val trueCounts = occ.groupBy(col("w").as("word"))
      .agg(count(lit(1)).as("true_cnt"))
    probed
      .join(counters, Seq("r", "bucket"), "left")
      .groupBy("word")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
      .join(trueCounts, Seq("word"), "left")
      .select(col("word"),
        coalesce(col("true_cnt"), lit(0L)).as("true_cnt"),
        col("est"),
        (col("est") - coalesce(col("true_cnt"), lit(0L))).as("overestimate"))
  }

  /** Frequency vocabulary — the tokenizer-prep table (word → id) every
    * training pipeline builds first. One explode→groupBy (map-side
    * combined) over the corpus, a bounded TakeOrdered for the top-N,
    * then ids assigned by (count desc, word) rank — deterministic, so
    * two runs (or two engines) agree id-for-id. The ranking window runs
    * on ≤ topN rows (bounded by construction, never the corpus). */
  def vocabulary(
      df: DataFrame, textCol: String, topN: Int,
      minCount: Long = 1L): DataFrame = {
    require(topN >= 1, "topN must be >= 1")
    val counts = df
      .select(explode(words(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col("word"))
      .limit(topN)
    counts
      .withColumn("id", row_number().over(
        Window.orderBy(col("cnt").desc, col("word"))).cast("long"))
      .select("id", "word", "cnt")
  }

  /** Per-document character-level Shannon entropy (nats) — the
    * cheapest repetitiveness/noise screen: low entropy flags repeated-
    * character runs and template junk, high entropy flags random-bytes
    * noise; natural text sits in a stable band. One explode→groupBy
    * over (doc, char) — count rows bounded by n_docs × alphabet — then
    * a per-doc rollup. Entropy uses the per-term `Σ c·(ln n − ln c)/n`
    * shape (exactly 0 for a constant document in ANY engine — the q82
    * lesson); 6dp-rounded. Empty/null docs yield no rows. Returns
    * (idCol, n_chars, entropy). */
  def charEntropyTable(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = df
      .select(col(idCol).as("id"),
        explode(split(col(textCol), "")).as("ch"))
      .where(length(col("ch")) > 0)
      .groupBy("id", "ch").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("id").agg(sum(col("c")).as("n"))
    counts.join(totals, "id")
      .groupBy("id")
      .agg(max(col("n")).as("n_chars"),
        round(sum(col("c") * (log(col("n")) - log(col("c")))) /
          max(col("n")), 6).as("entropy"))
      .select(col("id").as(idCol), col("n_chars"), col("entropy"))
  }

  /** One-row corpus lexical statistics — the Heaps/Zipf sanity check a
    * corpus build runs before tokenizer training: token and type
    * counts, hapax legomena (types seen once — a high fraction means a
    * noisy/OCR-damaged crawl), type-token ratio, and head coverage
    * (share of all token occurrences covered by the `topK` most
    * frequent types — how much a small vocabulary buys). Everything
    * derives from ONE map-side-combined word count table; the head is
    * a bounded TakeOrdered by the deterministic (count desc, word)
    * order; the only floats are three final one-shot divisions
    * (6-decimal rounded), so the result is engine-bit-stable. */
  def lexicalStats(df: DataFrame, textCol: String,
      topK: Int = 100): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    val counts = df
      .select(explode(words(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val totals = counts.agg(
      coalesce(sum(col("cnt")), lit(0L)).as("n_tokens"),
      count(lit(1)).as("n_types"),
      coalesce(sum(when(col("cnt") === 1L, 1L).otherwise(0L)), lit(0L))
        .as("n_hapax"))
    val head = counts.orderBy(col("cnt").desc, col("word")).limit(topK)
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("head_tokens"))
    totals.crossJoin(head)
      .select(
        col("n_tokens"), col("n_types"), col("n_hapax"),
        when(col("n_tokens") > 0,
          round(col("n_types").cast("double") / col("n_tokens"), 6))
          .as("ttr"),
        when(col("n_types") > 0,
          round(col("n_hapax").cast("double") / col("n_types"), 6))
          .as("hapax_frac"),
        when(col("n_tokens") > 0,
          round(col("head_tokens").cast("double") / col("n_tokens"), 6))
          .as(s"top${topK}_coverage"))
  }

  /** Per-group unigram KL divergence from the corpus mix:
    * KL(p_group || p_corpus) over the word distribution — the
    * "how lexically atypical is this source?" diagnostic read next to
    * the set-overlap matrix (groupShingleOverlap) and the embedding
    * centroid map when deciding corpus mixing weights: a source with
    * near-zero KL adds no lexical diversity; a high-KL source shifts
    * the mix. Every group word has corpus support (the corpus IS the
    * union of the groups), so no smoothing is needed and the sum is
    * finite. Returns (groupCol, n_tokens, n_types, kl_nats 6 dp).
    *
    * Scale design: one word explode collapsed map-side to
    * (group, word) counts; corpus counts derive from THAT table (no
    * second scan), join back on the word key (hash-partitioned,
    * vocabulary-sized — never collected), then a bounded per-group
    * rollup. */
  def sourceUnigramKL(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val gw = df.select(col(groupCol).as("g"),
        explode(words(col(textCol))).as("w"))
      .groupBy("g", "w").agg(count(lit(1)).as("cgw"))
      .localCheckpoint(false)
    val gTot = gw.groupBy("g").agg(sum(col("cgw")).as("tg"))
    val cw = gw.groupBy("w").agg(sum(col("cgw")).as("cw"))
    val tot = cw.agg(sum(col("cw")).as("tot"))
    val pG = col("cgw") / col("tg").cast("double")
    val pC = col("cw") / col("tot").cast("double")
    gw.join(cw, "w")
      .join(broadcast(gTot), "g")
      .crossJoin(broadcast(tot))
      .groupBy("g")
      .agg(
        sum(col("cgw")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        round(sum(pG * log(pG / pC)), 6).as("kl_nats"))
      .select(col("g").as(groupCol), col("n_tokens"),
        col("n_types"), col("kl_nats"))
  }

  /** Encode each document against a `(id, word)` [[vocabulary]] table:
    * the token-id sequences a training job actually consumes, with
    * out-of-vocabulary tokens mapped to `oovId`. One posexplode, one
    * equi-join on the word (Catalyst broadcasts a small vocab on its
    * own; a 1M-entry vocab falls back to a plain hash join — either way
    * the corpus is scanned once), one per-document reassembly whose
    * collect_list is bounded by document length (the lineDedup
    * precedent). Documents with no tokens encode as an empty array.
    * Returns `(idCol, token_ids, n_tokens, n_oov)`. */
  def encode(
      df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, oovId: Long = -1L): DataFrame = {
    val toks = df.select(col(idCol).as("__id"),
      posexplode(words(col(textCol))).as(Seq("__pos", "__w")))
    val v = vocab.select(col("word").as("__w"), col("id").as("__vid"))
    val enc = toks.join(v, Seq("__w"), "left")
      .groupBy("__id")
      .agg(
        transform(
          sort_array(collect_list(struct(col("__pos").as("p"),
            coalesce(col("__vid"), lit(oovId)).as("v")))),
          x => x.getField("v")).as("token_ids"),
        count(lit(1)).as("n_tokens"),
        sum(when(col("__vid").isNull, 1L).otherwise(0L)).as("n_oov"))
    df.select(col(idCol).as("__id"))
      .join(enc, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("token_ids"), array().cast("array<bigint>"))
          .as("token_ids"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
  }

  /** Bigram PMI phrase mining (word2vec-style phrase detection):
    *
    *   PMI(w1 w2) = ln( P(w1 w2) / (P(w1)·P(w2)) ),
    *   P(w1 w2) = c12/N2 (bigram occurrences), P(w) = c/N1 (tokens)
    *
    * Two explode→groupBy passes (unigrams, occurrence-level bigrams),
    * the bigram table joins the unigram counts twice (hash-partitioned
    * on the word — scale-safe), corpus totals ride in as broadcast
    * one-row frames. PMI is a per-row expression on exact counts — no
    * float aggregation — so it is engine-reproducible at 6 decimals. */
  def bigramPmi(
      df: DataFrame, textCol: String, minCount: Long = 5L,
      topK: Int = 25): DataFrame = {
    // both tables are referenced multiple times in one plan (two
    // unigram joins + the totals) — materialize once instead of
    // betting on ReuseExchange (same trap as NOTES_r5's TF-IDF scan)
    val uni = df.select(explode(words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false)
    val bi = df.select(explode(
        graft.functions.WordNgramsExpr.ngrams(col(textCol), 2,
          distinct = false)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c12"))
      .localCheckpoint(eager = false)
    val n1 = uni.agg(sum(col("c")).as("n1"))
    val n2 = bi.agg(sum(col("c12")).as("n2"))
    val pmi = log((col("c12") / col("n2")) /
      ((col("c1") / col("n1")) * (col("c2") / col("n1"))))
    bi.where(col("c12") >= minCount)
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .select(col("bigram"), col("c12"), round(pmi, 6).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(topK)
  }

  def chunkWords(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      "need 0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    df.where(length(trim(col(textCol))) > 0)
      .select(col(idCol),
        split(trim(regexp_replace(col(textCol), "\\s+", " ")), " ").as("ws"))
      .select(col(idCol), col("ws"),
        explode(sequence(lit(0),
          greatest(size(col("ws")) - overlap - 1, lit(0)),
          lit(stride))).as("start"))
      .select(col(idCol),
        (col("start") / stride).cast("int").as("chunk_id"),
        least(lit(chunkSize), size(col("ws")) - col("start")).as("n_words"),
        array_join(slice(col("ws"), col("start") + 1, lit(chunkSize)), " ")
          .as("chunk"))
  }

  /** Emerging terms between two corpus snapshots: smoothed log-odds
    * ratio of each word's rate in `after` vs `before` (the
    * "Fightin' Words" style monitoring diagnostic — what vocabulary
    * is a new crawl injecting). delta = ln((c_b+½)/(n_b−c_b+½)) −
    * ln((c_a+½)/(n_a−c_a+½)); top-k risers ordered by the 6dp-ROUNDED
    * delta (ln differs in the last ulp across engines; the rounded
    * key plus the word tie-break makes the top-k edge reproducible),
    * min total count filters hapax noise. Two explode→groupBy passes
    * + one hash join on the word. Returns (word, c_before, c_after,
    * delta 6dp), ordered. */
  def emergingTerms(
      before: DataFrame, after: DataFrame, textCol: String,
      topK: Int, minCount: Long = 5L): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    def counts(df: DataFrame, cName: String) = df
      .where(col(textCol).isNotNull)
      .select(explode(words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as(cName))
    val ca = counts(before, "c_before").localCheckpoint(false)
    val cb = counts(after, "c_after").localCheckpoint(false)
    val na = ca.agg(sum(col("c_before")).as("na"))
    val nb = cb.agg(sum(col("c_after")).as("nb"))
    val joined = ca.join(cb, Seq("w"), "full_outer")
      .na.fill(0L, Seq("c_before", "c_after"))
      .crossJoin(na).crossJoin(nb)
    val caD = col("c_before").cast("double")
    val cbD = col("c_after").cast("double")
    val delta =
      log((cbD + 0.5) / (col("nb").cast("double") - cbD + 0.5)) -
        log((caD + 0.5) / (col("na").cast("double") - caD + 0.5))
    joined
      .where(col("c_before") + col("c_after") >= minCount)
      .select(col("w").as("word"), col("c_before"), col("c_after"),
        round(delta, 6).as("delta"))
      .orderBy(col("delta").desc, col("word"))
      .limit(topK)
  }

  /** Corpus-level most-repeated word n-grams — the memorization /
    * boilerplate diagnostic (the corpus-wide complement of the per-doc
    * [[dup n-gram fraction|repetitionTable]]): every occurrence counts
    * (NOT per-doc distinct), alongside the document frequency. One
    * explode→groupBy with map-side combine, then a bounded
    * TakeOrdered — counts desc with the gram as deterministic
    * tie-break, so the top-k edge is reproducible across engines.
    * Returns (gram, n_occurrences, n_docs), ordered. */
  def topRepeatedNgrams(
      df: DataFrame, idCol: String, textCol: String, n: Int,
      k: Int): DataFrame = {
    require(n >= 1 && k >= 1, "n and k must be >= 1")
    df.where(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        explode(graft.functions.WordNgramsExpr
          .ngrams(col(textCol), n, distinct = false)).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("__id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("gram"))
      .limit(k)
  }

  /** Flesch reading-ease per document (Flesch 1948; the readability
    * band quality-filter pipelines bucket corpora by): 206.835 −
    * 1.015·(words/sentences) − 84.6·(syllables/words), with the
    * standard cheap proxies — sentences = runs of [.!?] (min 1),
    * syllables = vowel-group runs [aeiouy]+ in the lowercased text.
    * Pure per-row regex counts + one arithmetic projection: map-only,
    * codegen'd, and every count is an integer so the score is
    * bit-reproducible cross-engine (rounded 4 dp). Returns
    * (idCol, n_words, n_sentences, n_syllables, flesch). */
  def fleschReadingEase(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val t = col(textCol)
    val nWords = size(words(t)).cast("long")
    val nSent = greatest(lit(1L),
      size(regexp_extract_all(t, lit("[.!?]+"), lit(0))).cast("long"))
    val nSyll = size(regexp_extract_all(lower(t), lit("[aeiouy]+"),
      lit(0))).cast("long")
    df.where(t.isNotNull)
      .select(col(idCol), nWords.as("n_words"), nSent.as("n_sentences"),
        nSyll.as("n_syllables"))
      .where(col("n_words") > 0)
      .withColumn("flesch", round(
        lit(206.835) -
          lit(1.015) * (col("n_words").cast("double") /
            col("n_sentences")) -
          lit(84.6) * (col("n_syllables").cast("double") /
            col("n_words")), 4))
  }

  /** Distributed BPE merge learning (Sennrich et al., "Neural Machine
    * Translation of Rare Words with Subword Units", ACL 2016 — the
    * byte-pair-encoding loop behind GPT/SentencePiece vocabularies):
    * learn the first `rounds` merge rules over the corpus. Per round:
    * count adjacent symbol pairs weighted by word frequency, pick the
    * most frequent pair ((count desc, pair asc) — fully
    * deterministic), fuse every occurrence, repeat.
    *
    * The distributed shape is the textbook one: BPE operates on the
    * WORD-FREQUENCY table, not the corpus — one corpus scan builds
    * (word, cnt) (vocabulary-sized, millions of rows at 100 TB, not
    * trillions), localCheckpointed once; each round is then a pair
    * explode + map-side-combined groupBy + bounded top-1 + broadcast
    * of the single winning rule into a map-only fuse projection. No
    * per-round corpus rescan, no window, driver transfer = 1 row per
    * round.
    *
    * Fuse semantics: symbols live space-joined with sentinel spaces
    * (`' a b c '`), and a merge applies via
    * `replace(s, ' a b ', ' ab ')` — left-to-right, non-overlapping,
    * scan resuming AFTER each replacement. Both engines' `replace`
    * share that exact contract, which makes the learned rules
    * value-comparable cross-engine; it deviates from textbook BPE
    * only on runs of the same overlapping pair (`a a a a` fuses once,
    * not twice, per pass), a tie the reference tokenizers themselves
    * break inconsistently.
    *
    * Returns one row per learned rule: (rnd, a, b, pair_count). */
  def bpeMerges(df: DataFrame, textCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    // vocabulary pass: (word, cnt), symbols pre-split char-wise with
    // sentinel spaces: "abc" -> " a b c "
    var seqs = df.where(col(textCol).isNotNull)
      .select(explode(words(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(
        concat(lit(" "),
          regexp_replace(col("word"), "(.)", "$1 ")).as("s"),
        col("cnt"))
      .localCheckpoint(false)
    val rules = (1 to rounds).map { r =>
      val pairs = seqs
        .select(split(trim(col("s")), " ").as("ws"), col("cnt"))
        .where(size(col("ws")) >= 2)
        .select(
          slice(col("ws"), lit(1), size(col("ws")) - 1).as("la"),
          slice(col("ws"), lit(2), size(col("ws")) - 1).as("lb"),
          col("cnt"))
        .select(explode(arrays_zip(col("la"), col("lb"))).as("p"),
          col("cnt"))
        .select(col("p.la").as("a"), col("p.lb").as("b"), col("cnt"))
        .groupBy("a", "b").agg(sum(col("cnt")).as("pair_count"))
      val top = pairs
        .orderBy(col("pair_count").desc, col("a"), col("b"))
        .limit(1)
        .localCheckpoint(false)
      seqs = seqs.crossJoin(broadcast(top))
        .select(expr("replace(s, concat(' ', a, ' ', b, ' '), " +
          "concat(' ', a, b, ' '))").as("s"), col("cnt"))
        .localCheckpoint(false)
      top.select(lit(r).as("rnd"), col("a"), col("b"), col("pair_count"))
    }
    rules.reduce(_ unionAll _).orderBy("rnd")
  }

  /** Vocabulary coverage curve: for each candidate vocabulary size V
    * in `cutoffs`, the fraction of all corpus tokens covered by the
    * top-V words (count-desc, word tie-break — the q101 vocabulary
    * order) — the table a tokenizer design reads to pick V before
    * training anything. One corpus scan builds the word counts; only
    * the top-max(cutoffs) slice (a bounded TakeOrdered) is ranked —
    * the corpus-sized count table never meets a window — and each
    * cutoff's rollup comes from a map-side explode of the cutoff list
    * over that bounded slice (no non-equi join). Returns (vocab_size,
    * n_types, covered_tokens, coverage 6dp). */
  def vocabCoverageCurve(df: DataFrame, textCol: String,
      cutoffs: Seq[Int]): DataFrame = {
    require(cutoffs.nonEmpty && cutoffs.forall(_ >= 1),
      s"cutoffs must be >= 1: $cutoffs")
    val counts = df
      .select(explode(words(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val tot = counts.agg(sum(col("cnt")).cast("double").as("tot"))
    val top = counts
      .orderBy(col("cnt").desc, col("word")).limit(cutoffs.max)
      // window over the bounded max(cutoffs)-row slice only
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cnt").desc, col("word"))))
    top
      .withColumn("vocab_size",
        explode(array(cutoffs.sorted.map(lit(_)): _*)))
      .where(col("rk") <= col("vocab_size"))
      .groupBy("vocab_size")
      .agg(count(lit(1)).as("n_types"), sum(col("cnt")).as("covered_tokens"))
      .crossJoin(broadcast(tot))
      .select(col("vocab_size"), col("n_types"), col("covered_tokens"),
        round(col("covered_tokens") / col("tot"), 6).as("coverage"))
  }

  /** Church–Gale word burstiness: tf / df per word — how many times a
    * word repeats within the documents it appears in at all. High
    * burstiness separates topical/content words (which cluster in few
    * documents) from function words at the same total frequency — the
    * classic term-weighting diagnostic (Church & Gale 1995) and a
    * boilerplate detector (template phrases burst hard). One exploded
    * scan, one map-side-combined groupBy (df = two-phase distinct
    * count per word), bounded TakeOrdered output. Returns the top
    * `topN` words by (burstiness desc, word): (word, tf, df,
    * burstiness 6dp). */
  def wordBurstiness(df: DataFrame, idCol: String, textCol: String,
      topN: Int): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    df.select(col(idCol).as("id"),
        explode(words(col(textCol))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("tf"), countDistinct(col("id")).as("df"))
      .select(col("word"), col("tf"), col("df"),
        round(col("tf").cast("double") / col("df"), 6).as("burstiness"))
      .orderBy(col("burstiness").desc, col("word"))
      .limit(topN)
  }

  /** Distinct-n diversity ratios (Li et al., NAACL 2016): per group
    * and n ∈ [1, maxN], distinct n-grams / total n-grams — the
    * standard lexical-diversity readout for a corpus slice or a
    * model's generations (ratios near 0 = template/boilerplate
    * degeneration). ONE corpus scan: the per-n gram arrays ride a
    * posexplode'd array-of-arrays, then one two-phase
    * (group, n)-keyed count + distinct-count — no per-n rescan, both
    * aggregates map-side combined. Returns (groupCol, n, total_ngrams,
    * distinct_ngrams, distinct_ratio 6dp); groups shorter than n emit
    * no row at that n. */
  def distinctNgramRatios(df: DataFrame, textCol: String,
      groupCol: String, maxN: Int): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"maxN must be in [1, 8]: $maxN")
    val grams = array((1 to maxN).map(n =>
      graft.functions.WordNgramsExpr
        .ngrams(col(textCol), n, distinct = false)): _*)
    df.where(col(textCol).isNotNull)
      .select(col(groupCol).as("g"), posexplode(grams).as(Seq("p", "gr")))
      .select(col("g"), (col("p") + 1).cast("int").as("n"),
        explode(col("gr")).as("ng"))
      .groupBy("g", "n")
      .agg(count(lit(1)).as("total_ngrams"),
        countDistinct(col("ng")).as("distinct_ngrams"))
      .select(col("g").as(groupCol), col("n"), col("total_ngrams"),
        col("distinct_ngrams"),
        round(col("distinct_ngrams").cast("double")
          / col("total_ngrams"), 6).as("distinct_ratio"))
  }

  /** Tokenizer APPLY + fertility audit: learn `rounds` BPE rules with
    * [[bpeMerges]]' exact contract, encode the corpus under them, and
    * report per-group fertility — BPE tokens emitted per whitespace
    * word, the number a tokenizer design reads to compare vocabularies
    * across languages/sources (fertility ~1 = words survive whole;
    * high fertility = the vocabulary fragments that group's text).
    * q212 gates the TRAINER; this operator is the missing second half
    * of the tokenizer lifecycle: the trained rules actually applied.
    *
    * Encoding never touches the corpus row-wise: the merge table
    * (`rounds` rows — the one bounded collect) folds into a chain of
    * `replace(s, ' a b ', ' ab ')` projections over the DISTINCT-word
    * table, in rank order. Rank-order application is exact for
    * BPE-trained rules: a later merge's token cannot recreate an
    * earlier merge's pair, because that pair's right/left symbol would
    * have to BE the later merge's output, which did not exist when the
    * earlier rule was learned. Per-(group, word) counts then weight
    * the per-word token counts back in one vocabulary-sized equi-join
    * — corpus text is scanned once, encoded never.
    *
    * Returns one row per group: (groupCol, n_words, n_tokens,
    * fertility, chars_per_token), ratios 6 dp. */
  def bpeFertility(df: DataFrame, textCol: String, groupCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 64,
      s"rounds must be in [1, 64] (bounded merge-table collect): $rounds")
    val merges = bpeMerges(df, textCol, rounds)
      .orderBy("rnd").select("a", "b").collect()
    // a corpus too small to yield `rounds` rules would leave the
    // trainer's internal word table empty mid-run — refuse loudly
    // instead of encoding under a silently shorter rule list
    require(merges.length == rounds,
      s"corpus yielded only ${merges.length} of $rounds BPE rules")
    val wc = df.where(col(textCol).isNotNull)
      .select(col(groupCol).as("g"), explode(words(col(textCol))).as("word"))
      .groupBy("g", "word").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val spaced = concat(lit(" "),
      regexp_replace(col("word"), "(.)", "$1 "))
    val enc = merges.foldLeft(spaced) { (s, r) =>
      val (a, b) = (r.getString(0), r.getString(1))
      replace(s, lit(s" $a $b "), lit(s" $a$b "))
    }
    val perWord = wc.select("word").distinct()
      .select(col("word"),
        size(split(trim(enc), " ")).cast("long").as("n_tok"))
    wc.join(perWord, "word")
      .groupBy("g")
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("n_tok")).as("n_tokens"),
        sum(col("cnt") * length(col("word"))).as("n_chars"))
      .select(col("g").as(groupCol), col("n_words"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("n_words"), 6)
          .as("fertility"),
        round(col("n_chars").cast("double") / col("n_tokens"), 6)
          .as("chars_per_token"))
  }

  /** Unigram-LM tokenizer E-step (Kudo, ACL 2018 — the SentencePiece
    * unigram model): score every distinct corpus word with its BEST
    * segmentation under a substring-frequency vocabulary.
    *
    *   1. Candidate vocabulary: the `vocabK` highest-frequency
    *      substrings (length ≤ `maxSubLen`) of the distinct-word
    *      table, frequency weighted by word occurrence count, ties by
    *      substring — a total, engine-replayable order. Token
    *      log-probabilities are ln(freq / Σ vocab freq).
    *   2. Lattice: for each word, every (j, i) span whose substring is
    *      in the vocabulary becomes an edge with that token's logp.
    *   3. Viterbi: best(i) = max over edges of best(j) + lp, run
    *      IN-ROW by the codegen'd
    *      [[graft.functions.ViterbiScoreExpr]] over the word's
    *      collected lattice (bounded by maxWordLen·maxSubLen edges) —
    *      the sequential DP never becomes a chain of corpus-wide
    *      joins. Words with an uncovered character score NULL (their
    *      vocabulary fell below the top-K cut).
    *
    * Returns one row per distinct word ≤ `maxWordLen` chars:
    * (word, cnt, len, nll) — nll = −best logp, 6 dp. This is the
    * E-step a full EM trainer iterates; one pass already yields the
    * corpus-fertility and coverage diagnostics a tokenizer design
    * sweep needs (pair with [[bpeFertility]] for the merge-based
    * alternative).
    *
    * Scale design (100 TB): the lattice explode is bounded per word
    * and the vocabulary is broadcast into the edge join; shuffles are
    * the word count, the substring frequency, and the per-word
    * collect_list — all on uniformly-hashed keys. The top-K vocabulary
    * cut is a TakeOrdered, not a global sort. */
  def unigramLmScores(df: DataFrame, textCol: String,
      maxSubLen: Int = 4, maxWordLen: Int = 16,
      vocabK: Int = 512): DataFrame = {
    require(maxSubLen >= 1 && maxSubLen <= 8,
      s"maxSubLen must be in [1, 8]: $maxSubLen")
    require(maxWordLen >= maxSubLen && maxWordLen <= 32,
      s"maxWordLen must be in [$maxSubLen, 32]: $maxWordLen")
    require(vocabK >= 1, s"vocabK must be >= 1: $vocabK")
    val wc = df.where(col(textCol).isNotNull)
      .select(explode(words(col(textCol))).as("word"))
      .where(length(col("word")).between(1, maxWordLen))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val lattice = unigramLattice(wc, maxSubLen, vocabK)
    wc.join(lattice, Seq("word"), "left")
      .select(col("word"), col("cnt"),
        length(col("word")).as("len"),
        round(-graft.functions.ViterbiScoreExpr.score(
          coalesce(col("edges"), emptyLattice),
          length(col("word"))), 6).as("nll"))
  }

  private def emptyLattice: Column =
    array().cast("array<struct<j:int,i:int,lp:double>>")

  /** Shared lattice builder of the unigram-LM family: substring
    * frequencies from the (word, cnt) table, the top-`vocabK`
    * vocabulary on the (freq desc, substring asc) total order, token
    * log-probs, and per-word edge lists. The vocabulary and its probs
    * broadcast into the edge join. */
  private def unigramSubs(wc: DataFrame, maxSubLen: Int): DataFrame =
    wc.select(col("word"), col("cnt"),
        explode(sequence(lit(0), length(col("word")) - 1)).as("j"))
      .select(col("word"), col("cnt"), col("j"),
        explode(sequence(col("j") + 1,
          least(col("j") + maxSubLen, length(col("word"))))).as("i"))
      .select(col("word"), col("cnt"), col("j"), col("i"),
        expr("substring(word, j + 1, i - j)").as("sub"))

  /** The initial vocabulary: top-`vocabK` substrings by occurrence-
    * weighted frequency, ties by substring (total order). */
  private def unigramVocab(wc: DataFrame, maxSubLen: Int,
      vocabK: Int): DataFrame =
    unigramSubs(wc, maxSubLen).groupBy("sub")
      .agg(sum(col("cnt")).as("f"))
      .orderBy(col("f").desc, col("sub").asc).limit(vocabK)

  private def unigramLattice(wc: DataFrame, maxSubLen: Int,
      vocabK: Int): DataFrame = {
    val subs = unigramSubs(wc, maxSubLen)
    val vocab = unigramVocab(wc, maxSubLen, vocabK)
    val tot = vocab.agg(sum(col("f")).as("t"))
    val lp = vocab.crossJoin(broadcast(tot))
      .select(col("sub"),
        log(col("f").cast("double") / col("t")).as("lp"))
    subs.join(broadcast(lp), Seq("sub"))
      .groupBy("word")
      .agg(collect_list(struct(col("j"), col("i"), col("lp"))).as("edges"))
  }

  /** Per-group tokenizer fertility under the unigram LM — the
    * counterpart of [[bpeFertility]] for the [[unigramLmScores]]
    * model, closing the BPE-vs-unigram tokenizer design sweep: every
    * word is segmented by the Viterbi DP (max score, then FEWEST
    * tokens — the deterministic tie-break
    * [[graft.functions.ViterbiStatsExpr]] carries), and groups roll up
    * occurrence-weighted token counts. Words longer than `maxWordLen`
    * or with an uncovered character count as unsegmentable (they fall
    * outside the model) rather than vanishing.
    *
    * Returns per group: (group, n_words, n_seg_words, n_unseg_words,
    * n_tokens, fertility, chars_per_token), ratios 6 dp over the
    * segmentable mass. */
  def unigramLmFertility(df: DataFrame, textCol: String, groupCol: String,
      maxSubLen: Int = 4, maxWordLen: Int = 12,
      vocabK: Int = 256): DataFrame = {
    require(maxSubLen >= 1 && maxSubLen <= 8,
      s"maxSubLen must be in [1, 8]: $maxSubLen")
    require(maxWordLen >= maxSubLen && maxWordLen <= 32,
      s"maxWordLen must be in [$maxSubLen, 32]: $maxWordLen")
    require(vocabK >= 1, s"vocabK must be >= 1: $vocabK")
    val wcg = df.where(col(textCol).isNotNull)
      .select(col(groupCol).as("g"), explode(words(col(textCol))).as("word"))
      .groupBy("g", "word").agg(count(lit(1)).as("cnt"))
    val wc = wcg.groupBy("word").agg(sum(col("cnt")).as("cnt"))
      .where(length(col("word")).between(1, maxWordLen))
    val lattice = unigramLattice(wc, maxSubLen, vocabK)
    val stats = wc.join(lattice, Seq("word"), "left")
      .select(col("word"),
        graft.functions.ViterbiScoreExpr.stats(
          coalesce(col("edges"), emptyLattice),
          length(col("word"))).as("st"))
    wcg.join(stats, Seq("word"), "left")
      .groupBy("g")
      .agg(sum(col("cnt")).as("n_words"),
        coalesce(sum(when(col("st").isNotNull, col("cnt"))), lit(0L))
          .as("n_seg_words"),
        coalesce(sum(when(col("st").isNull, col("cnt"))), lit(0L))
          .as("n_unseg_words"),
        coalesce(sum(when(col("st").isNotNull,
          col("cnt") * col("st.n").cast("long"))), lit(0L)).as("n_tokens"),
        coalesce(sum(when(col("st").isNotNull,
          col("cnt") * length(col("word")).cast("long"))), lit(0L))
          .as("seg_chars"))
      .select(col("g").as(groupCol), col("n_words"), col("n_seg_words"),
        col("n_unseg_words"), col("n_tokens"),
        when(col("n_seg_words") > 0,
          round(col("n_tokens").cast("double") / col("n_seg_words"), 6))
          .as("fertility"),
        when(col("n_tokens") > 0,
          round(col("seg_chars").cast("double") / col("n_tokens"), 6))
          .as("chars_per_token"))
  }

  /** Unigram-LM EM M-step (the re-estimation half of Kudo's ACL 2018
    * trainer, completing [[unigramLmScores]]'s E-step): every word's
    * argmax segmentation ([[graft.functions.ViterbiPathExpr]], the
    * total (score, fewest-tokens, min-j) tie rule) is exploded into
    * its token spans, and tokens are recounted weighted by word
    * occurrences — the counts the next EM round would renormalize
    * into probabilities. Tokens of the initial vocabulary that no
    * argmax path uses come back with `cnt_new` 0 (the prune candidates
    * of the SentencePiece loop). Unsegmentable words contribute
    * nothing (out of model, as in [[unigramLmFertility]]).
    *
    * Returns one row per initial-vocabulary token:
    * (token, f0, cnt_new, lp_new) — lp_new = ln(cnt_new / Σ cnt_new),
    * NULL for unused tokens, 6 dp.
    *
    * Scale design: inherits the lattice's broadcast joins; the only
    * additions are the bounded per-word span explode and one
    * map-side-combinable token count. */
  def unigramLmMStep(df: DataFrame, textCol: String,
      maxSubLen: Int = 4, maxWordLen: Int = 12,
      vocabK: Int = 256): DataFrame = {
    require(maxSubLen >= 1 && maxSubLen <= 8,
      s"maxSubLen must be in [1, 8]: $maxSubLen")
    require(maxWordLen >= maxSubLen && maxWordLen <= 32,
      s"maxWordLen must be in [$maxSubLen, 32]: $maxWordLen")
    require(vocabK >= 1, s"vocabK must be >= 1: $vocabK")
    val wc = df.where(col(textCol).isNotNull)
      .select(explode(words(col(textCol))).as("word"))
      .where(length(col("word")).between(1, maxWordLen))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val lattice = unigramLattice(wc, maxSubLen, vocabK)
    val spans = wc.join(lattice, Seq("word"))
      .select(col("word"), col("cnt"),
        explode(graft.functions.ViterbiScoreExpr.path(
          col("edges"), length(col("word")))).as("sp"))
      .select(col("cnt"),
        expr("substring(word, sp.j + 1, sp.i - sp.j)").as("token"))
    val counts = spans.groupBy("token")
      .agg(sum(col("cnt")).as("cnt_new"))
    val totNew = counts.agg(sum(col("cnt_new")).as("tn"))
    val vocab0 = unigramVocab(wc, maxSubLen, vocabK)
    vocab0.join(counts, vocab0("sub") === counts("token"), "left")
      .crossJoin(broadcast(totNew))
      .select(col("sub").as("token"), col("f").as("f0"),
        coalesce(col("cnt_new"), lit(0L)).as("cnt_new"),
        when(coalesce(col("cnt_new"), lit(0L)) > 0,
          round(log(col("cnt_new").cast("double") / col("tn")), 6))
          .as("lp_new"))
  }

  /** [[unigramLmScores]] under a SUPPLIED token-probability table
    * (`probs`: (sub, lp)) instead of the corpus-derived initial
    * vocabulary — the scoring half of every EM round after the first:
    * feed [[unigramLmMStep]]'s surviving tokens back in and the corpus
    * is re-scored under the re-estimated model. Same output shape as
    * [[unigramLmScores]]: (word, cnt, len, nll), NULL when the word is
    * unsegmentable under the supplied vocabulary (pruned tokens shrink
    * coverage — the real SentencePiece trade). */
  def unigramLmScoresWith(df: DataFrame, textCol: String,
      probs: DataFrame, maxSubLen: Int = 4,
      maxWordLen: Int = 12): DataFrame = {
    require(maxSubLen >= 1 && maxSubLen <= 8,
      s"maxSubLen must be in [1, 8]: $maxSubLen")
    require(maxWordLen >= maxSubLen && maxWordLen <= 32,
      s"maxWordLen must be in [$maxSubLen, 32]: $maxWordLen")
    val wc = df.where(col(textCol).isNotNull)
      .select(explode(words(col(textCol))).as("word"))
      .where(length(col("word")).between(1, maxWordLen))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val lattice = unigramSubs(wc, maxSubLen)
      .join(broadcast(probs.select(col("sub"), col("lp"))), Seq("sub"))
      .groupBy("word")
      .agg(collect_list(struct(col("j"), col("i"), col("lp"))).as("edges"))
    wc.join(lattice, Seq("word"), "left")
      .select(col("word"), col("cnt"),
        length(col("word")).as("len"),
        round(-graft.functions.ViterbiScoreExpr.score(
          coalesce(col("edges"), emptyLattice),
          length(col("word"))), 6).as("nll"))
  }

  /** Burrows' Delta stylometric profile (Burrows, LLC 2002 — the
    * standard authorship/register distance; here per SOURCE against
    * the corpus): take the `topM` corpus-frequent words, compute each
    * source's relative frequency of each, z-score every (source, word)
    * cell against the across-source mean/stddev of that word, and
    * report Delta(s) = mean |z| — sources whose function-word profile
    * sits far from the corpus norm surface at the top (template farms,
    * machine-generated text, off-register crawls).
    *
    * Exactness: all counts are exact BIGINTs; each relative frequency
    * is one division; the per-word moments are float sums over the
    * SOURCE dimension (bounded — sources are a governance-scale set),
    * and Delta is a mean over `topM` bounded terms — 6 dp absorbs
    * association order. Words missing from a source count as relative
    * frequency 0 (the Burrows convention), which the dense
    * source × word grid materializes explicitly. σ = 0 words (same
    * share everywhere) contribute 0.
    *
    * Returns per source: (source, n_tokens, delta), 6 dp, plus the
    * per-word z extremes (max_abs_z, argmax word) for diagnosis.
    *
    * Scale design: one token count per (source, word) (map-side
    * combined), a TakeOrdered top-M vocabulary broadcast into the
    * grid, and two bounded rollups — sources × topM cells total. */
  def burrowsDelta(df: DataFrame, groupCol: String, textCol: String,
      topM: Int = 20): DataFrame = {
    require(topM >= 2, s"topM must be >= 2: $topM")
    val toks = df.where(col(textCol).isNotNull)
      .select(col(groupCol).as("g"), explode(words(col(textCol))).as("w"))
    val gw = toks.groupBy("g", "w").agg(count(lit(1)).as("c"))
    val gTot = gw.groupBy("g").agg(sum(col("c")).as("nt"))
    val top = gw.groupBy("w").agg(sum(col("c")).as("cf"))
      .orderBy(col("cf").desc, col("w").asc).limit(topM)
    // dense grid: every (source, top word), absent cells get c = 0
    val grid = gTot.crossJoin(broadcast(top.select("w")))
      .join(gw, Seq("g", "w"), "left")
      .select(col("g"), col("w"), col("nt"),
        (coalesce(col("c"), lit(0L)).cast("double") / col("nt")).as("f"))
    val moments = grid.groupBy("w")
      .agg(sum(col("f")).as("sf"), sum(col("f") * col("f")).as("sff"),
        count(lit(1)).as("ns"))
      .select(col("w"), (col("sf") / col("ns")).as("mu"),
        when(col("ns") > 1,
          sqrt(greatest(
            (col("sff") - col("sf") * col("sf") / col("ns"))
              / (col("ns") - 1), lit(0.0)))).otherwise(lit(0.0)).as("sd"))
    val z = grid.join(broadcast(moments), Seq("w"))
      .select(col("g"), col("w"), col("nt"),
        when(col("sd") > 0.0, abs((col("f") - col("mu")) / col("sd")))
          .otherwise(lit(0.0)).as("az"))
    z.groupBy("g")
      .agg(first(col("nt")).as("n_tokens"),
        (sum(col("az")) / count(lit(1))).as("delta"),
        max(struct(col("az"), col("w"))).as("mx"))
      .select(col("g").as(groupCol), col("n_tokens"),
        round(col("delta"), 6).as("delta"),
        round(col("mx").getField("az"), 6).as("max_abs_z"),
        col("mx").getField("w").as("top_word"))
  }

  /** Per-group encoding-damage audit — the mojibake screen every
    * web-crawl ingest runs before training (UTF-8 damage survives
    * every later filter because the text still "looks like" language):
    *
    *   - `n_repl`     U+FFFD replacement characters (a decoder already
    *                  gave up on those bytes);
    *   - `n_ctrl`     C0 control characters other than tab/LF/CR
    *                  (binary spill or transfer corruption);
    *   - `n_moji`     U+00C3/U+00C2 occurrences — the signature of
    *                  UTF-8 bytes decoded as Latin-1 ("Ã©" for "é"),
    *                  the single most common mojibake family;
    *   - `n_non_ascii` code points above U+007F (context for the
    *                  mojibake rate: a clean French corpus is high
    *                  non-ASCII, low mojibake).
    *
    * All four are counted per character via length deltas of
    * replace/regexp-strip — one projection, no tokenization — then
    * rolled up per group with `damaged_docs` (docs with any of the
    * first three) and a 6 dp damage ratio per million chars kept
    * exact as counts-over-counts. One map-side-combinable aggregation;
    * at 100 TB the wire carries one partial row per (partition, group). */
  def encodingAudit(df: DataFrame, groupCol: String, textCol: String)
      : DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val nChars = length(t)
    val nRepl = nChars - length(replace(t, lit("�"), lit("")))
    val nCtrl = nChars - length(regexp_replace(t,
      "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", ""))
    val nMoji = nChars - length(
      replace(replace(t, lit("Ã"), lit("")), lit("Â"), lit("")))
    val nNonAscii = nChars - length(regexp_replace(t, "[^\\x00-\\x7F]", ""))
    df.select(col(groupCol).as("g"), nChars.cast("long").as("nc"),
        nRepl.cast("long").as("nr"), nCtrl.cast("long").as("nx"),
        nMoji.cast("long").as("nm"), nNonAscii.cast("long").as("na"))
      .groupBy("g")
      .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("n_chars"),
        sum(col("nr")).as("n_repl"), sum(col("nx")).as("n_ctrl"),
        sum(col("nm")).as("n_moji"), sum(col("na")).as("n_non_ascii"),
        sum(when(col("nr") + col("nx") + col("nm") > 0, 1L).otherwise(0L))
          .as("damaged_docs"))
      .select(col("g").as(groupCol), col("n_docs"), col("n_chars"),
        col("n_repl"), col("n_ctrl"), col("n_moji"), col("n_non_ascii"),
        col("damaged_docs"),
        round((col("n_repl") + col("n_ctrl") + col("n_moji"))
          .cast("double") * 1000000.0 / greatest(col("n_chars"), lit(1L)), 6)
          .as("damage_per_mchar"))
  }
  /** Distinctive vocabulary of one source vs the rest — Monroe,
    * Colaresi & Quinn's "Fightin' Words" log-odds ratio with an
    * informative Dirichlet prior (Political Analysis 2008, eq. 15-22):
    * per word w, delta = ln((y_sw + a_w)/(n_s + a0 - y_sw - a_w))
    * - ln((y_rw + a_w)/(n_r + a0 - y_rw - a_w)) with variance
    * ~ 1/(y_sw + a_w) + 1/(y_rw + a_w), prior a_w = priorMass * f_w
    * from the CORPUS-WIDE word distribution (the informative prior
    * that shrinks rare-word noise, unlike raw PMI/TF-IDF contrasts).
    * The standard "what is this source actually about" report of
    * corpus curation.
    *
    * All counts are exact longs (two map-side-combined groupBys over
    * the exploded words); doubles appear only in the per-word closed
    * form (no double accumulation), and the z-score is 6-dp rounded
    * BEFORE the top-k rank so ordering is engine-portable. Returns the
    * `topM` words most distinctive FOR the source: (rank, word,
    * y_source, y_rest, z 6dp) by (z desc, word asc). */
  def logOddsTerms(df: DataFrame, sourceCol: String, textCol: String,
      source: String, topM: Int = 15,
      priorMass: Double = 500.0): DataFrame = {
    require(topM >= 1, s"topM must be >= 1: $topM")
    require(priorMass > 0, s"priorMass must be positive: $priorMass")
    val toks = df.where(col(textCol).isNotNull)
      .select((col(sourceCol) === source).as("in_src"),
        explode(words(col(textCol))).as("w"))
    val wc = toks.groupBy("w")
      .agg(count(when(col("in_src"), 1)).as("ys"),
        count(when(!col("in_src"), 1)).as("yr"))
      .localCheckpoint(false) // totals + the scored scan share it
    val totals = wc.agg(sum(col("ys")).as("ns"), sum(col("yr")).as("nr"),
      sum(col("ys") + col("yr")).as("ntot"))
    val aw = lit(priorMass) * (col("ys") + col("yr")).cast("double") /
      col("ntot").cast("double")
    val dS = col("ys").cast("double") + aw
    val dR = col("yr").cast("double") + aw
    val delta =
      log(dS / (col("ns").cast("double") + lit(priorMass) - dS)) -
        log(dR / (col("nr").cast("double") + lit(priorMass) - dR))
    val z = round(delta / sqrt(lit(1.0) / dS + lit(1.0) / dR), 6)
    val scored = wc.crossJoin(broadcast(totals))
      .select(col("w"), col("ys"), col("yr"), z.as("z"))
      .orderBy(col("z").desc, col("w")).limit(topM)
    // rank over the bounded topM slice only
    val w2 = org.apache.spark.sql.expressions.Window
      .orderBy(col("z").desc, col("w"))
    scored.withColumn("rank", row_number().over(w2))
      .select(col("rank"), col("w").as("word"),
        col("ys").as("y_source"), col("yr").as("y_rest"), col("z"))
  }
  /** Heaps'-law fit over per-source vocabulary points: V = K * N^beta
    * estimated by log-log OLS over the (total tokens, distinct words)
    * point per source (Heaps 1978; beta ~ 0.4-0.6 for natural text —
    * a corpus whose beta rides near 1 is ID-like/templated, near 0 is
    * a closed vocabulary). Two map-side-combined aggregates per source
    * (token mass, exact distinct), then a 20-point closed-form
    * regression — the vocabulary-growth sanity check run before sizing
    * a tokenizer. Returns one row (n_sources, beta 6dp, k 6dp,
    * r2 6dp); fewer than 2 usable points yields nulls. */
  def heapsLawFit(df: DataFrame, sourceCol: String,
      textCol: String): DataFrame = {
    val toks = df.where(col(textCol).isNotNull)
      .select(col(sourceCol).as("g"), explode(words(col(textCol))).as("w"))
    val per = toks.groupBy("g")
      .agg(count(lit(1)).as("nTok"), countDistinct(col("w")).as("vocab"))
      .where(col("nTok") > 0 && col("vocab") > 0)
    val pts = per.select(log(col("nTok").cast("double")).as("x"),
      log(col("vocab").cast("double")).as("y"))
    val st = pts.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val n = col("n").cast("double")
    val covN = (n * col("sxy")) - (col("sx") * col("sy"))
    val varXN = (n * col("sxx")) - (col("sx") * col("sx"))
    val varYN = (n * col("syy")) - (col("sy") * col("sy"))
    val beta = covN / varXN
    st.select(col("n").as("n_sources"),
      when(col("n") >= 2 && varXN > 0.0, round(beta, 6)).as("beta"),
      when(col("n") >= 2 && varXN > 0.0,
        round(exp((col("sy") - beta * col("sx")) / n), 6)).as("k"),
      when(col("n") >= 2 && varXN > 0.0 && varYN > 0.0,
        round((covN * covN) / (varXN * varYN), 6)).as("r2"))
  }

  /** HOST-level template detection and stripping — the CCNet-style
    * per-site boilerplate pass (Wenzek et al., LREC 2020 run it per
    * shard; trafilatura/jusText model the same chrome): a line that
    * appears on ≥ `minFraction` of a host's pages is site chrome
    * (nav, cookie banner, footer), not content, and inflates both
    * dedup similarity (every page of the host shares it) and token
    * counts. Only hosts with ≥ `minPages` pages are judged — on a
    * 2-page host every line is "100% of pages".
    *
    * Lines are trimmed; empty lines drop; reassembly joins the KEPT
    * trimmed lines with \n in original order (the cleaned text is a
    * normalized artifact, not a byte-faithful substring — CDC-grade
    * reclaim needs [[graft.ops.ContentChunk]]'s byte discipline
    * instead). Output per page: (id, host, n_lines, n_stripped,
    * text_clean).
    *
    * Scale shape: one exploded (host, line) doc-frequency aggregate
    * (map-side combined), the template verdict joined back to the
    * exploded lines on (host, line) — both sides hash-partition on
    * the same key, no broadcast assumption (template tables scale
    * with hosts × chrome lines) — then ONE per-page reassembly
    * aggregate (sort_array over (pos, line) structs; bounded by page
    * size). */
  def hostTemplateStrip(pages: DataFrame, hostCol: String,
      idCol: String, textCol: String, minPages: Long,
      minFraction: Double): DataFrame = {
    require(minPages >= 2, s"minPages must be >= 2: $minPages")
    require(minFraction > 0 && minFraction <= 1,
      s"minFraction must be in (0, 1]: $minFraction")
    val lines = pages
      .select(col(hostCol).cast("string").as("host"),
        col(idCol).as("id"),
        posexplode(split(coalesce(col(textCol), lit("")), "\n"))
          .as(Seq("pos", "l0")))
      .select(col("host"), col("id"), col("pos"),
        trim(col("l0")).as("l"))
      .where(length(col("l")) > 0)
    val nPages = pages.groupBy(col(hostCol).cast("string").as("host"))
      .agg(countDistinct(col(idCol)).as("__np"))
    val lineDf = lines.select(col("host"), col("id"), col("l"))
      .distinct()
      .groupBy("host", "l").agg(count(lit(1)).as("__df"))
    val templates = lineDf.join(nPages, Seq("host"))
      .where(col("__np") >= minPages &&
        col("__df").cast("double") / col("__np") >= minFraction)
      .select(col("host").as("__th"), col("l").as("__tl"))
    val marked = lines.join(templates,
      col("host") === col("__th") && col("l") === col("__tl"), "left")
    marked.groupBy("host", "id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__th").isNotNull, 1L).otherwise(0L))
          .as("n_stripped"),
        array_sort(collect_list(when(col("__th").isNull,
          struct(col("pos"), col("l"))))).as("__keep"))
      .select(col("id"), col("host"), col("n_lines"),
        col("n_stripped"),
        array_join(transform(col("__keep"), x => x("l")), "\n")
          .as("text_clean"))
  }
}
