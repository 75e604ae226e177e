package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data curation: language id, quality scoring,
  * token counting, fingerprinting. Pure builtin column expressions — every
  * op stays inside whole-stage codegen over the scan. */
object TextAnalysis {

  /** Small deterministic stopword lists per language for the heuristic
    * language id (n-gram/stopword voting). */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "von", "für"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "pas", "pour", "dans", "que"),
    "es" -> Seq("el", "la", "que", "los", "una", "por", "con", "para", "como", "más"),
    "it" -> Seq("il", "che", "di", "la", "per", "una", "sono", "non", "con", "del")
  )

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    size(filter(split(text, "\\s+"), t => length(t) > 0))

  /** Stopword-vote language id over the distinct token set; "und"
    * (undetermined) when nothing matches. */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dict = Stopwords.toSeq.flatMap { case (lang, words) => words.map(w => (w, lang)) }
      .toDF("tok", "cand_lang")
    val toks = df.select(col(idCol), explode(split(lower(col(textCol)), "[^\\p{L}]+")).as("tok"))
      .where(length(col("tok")) > 0)
    val votes = toks.join(broadcast(dict), "tok")
      .groupBy(col(idCol), col("cand_lang")).count()
    val best = votes
      .groupBy(col(idCol))
      .agg(max_by(col("cand_lang"), struct(col("count"), col("cand_lang"))).as("lang_pred"),
        max(col("count")).as("votes"))
    df.select(col(idCol)).distinct()
      .join(best, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("lang_pred"), lit("und")).as("lang_pred"),
        coalesce(col("votes"), lit(0L)).as("votes"))
  }

  /** Heuristic quality features + a composite score in [0, 1]. */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    val nChars = length(text)
    val nTokens = tokenCount(text)
    val punctRatio = length(regexp_replace(text, "[^\\p{Punct}]", "")).cast("double") /
      greatest(nChars, lit(1)).cast("double")
    val upperRatio = length(regexp_replace(text, "[^A-Z]", "")).cast("double") /
      greatest(nChars, lit(1)).cast("double")
    val meanWordLen = nChars.cast("double") / greatest(nTokens, lit(1)).cast("double")
    val score =
      when(nTokens < 5, 0.0)
        .otherwise(
          greatest(lit(0.0), lit(1.0)
            - when(punctRatio > lit(0.2), (punctRatio - 0.2) * 2).otherwise(0.0)
            - when(upperRatio > lit(0.3), (upperRatio - 0.3) * 2).otherwise(0.0)
            - when(meanWordLen > lit(12), (meanWordLen - 12) * 0.05).otherwise(0.0)
            - when(meanWordLen < lit(3), (lit(3) - meanWordLen) * 0.2).otherwise(0.0)))
    df.select(col(idCol), nChars.as("n_chars_m"), nTokens.as("n_tokens"),
      round(punctRatio, 6).as("punct_ratio"), round(upperRatio, 6).as("upper_ratio"),
      round(meanWordLen, 6).as("mean_word_len"), round(score, 6).as("quality"))
  }

  /** Within-document repetition signals (the Gopher-rules family): token
    * and word-bigram multiplicity counts that catch degenerate generative
    * loops and boilerplate ("batch batch batch ..."), emitted as INTEGERS
    * so downstream thresholds — and the DuckDB oracle — are exact, with no
    * float fraction to disagree on rounding. `top_bigram_count` is the
    * multiplicity of the most frequent bigram (the Gopher "top-2-gram
    * fraction" numerator); a doc is repetitive when
    * `top_bigram_count / n_bigrams` or `1 - n_distinct_tokens / n_tokens`
    * is high, and both ratios derive from these integers.
    *
    * Shape at scale: pure per-row column expressions over the scan — zero
    * shuffles, embarrassingly parallel. The top-bigram fold is
    * O(distinct-bigrams × bigrams) per row; post-curation documents are
    * length-bounded, so the quadratic term is a constant, and a
    * pathological single row costs only its own task time. */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = filter(split(lower(col(textCol)), "\\s+"), t => length(t) > 0)
    val nTok = size(toks)
    val big = when(nTok >= 2,
      transform(sequence(lit(1), nTok - 1), i => concat_ws(" ", slice(toks, i, lit(2)))))
      .otherwise(array().cast("array<string>"))
    val topBigram = coalesce(
      array_max(transform(array_distinct(big), x => size(filter(big, y => y === x)))),
      lit(0))
    df.select(col(idCol),
      nTok.as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct_tokens"),
      size(big).as("n_bigrams"),
      size(array_distinct(big)).as("n_distinct_bigrams"),
      topBigram.as("top_bigram_count"))
  }

  /** PII patterns, ordered: replacement applies in THIS order — URL before
    * email/phone so a URL's innards are never half-scrubbed, and the
    * precise IP pattern before the greedy phone pattern (whose space-
    * tolerant digit run would otherwise bridge into an adjacent number).
    * Patterns stay inside the Java-regex / RE2 common subset (no
    * lookaround, no backrefs) so the DuckDB oracle replays them
    * verbatim. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("url",   "https?://[^\\s]+",                              "<URL>"),
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip",    "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b",                 "<IP>"),
    ("phone", "\\+?\\d[\\d -]{7,}\\d",                          "<PHONE>")
  )

  /** PII scrub for training corpora: emails / URLs / phone numbers / IPv4
    * literals are counted (on the ORIGINAL text) and replaced with typed
    * placeholder tags, in [[PiiPatterns]] order. Output: (idCol,
    * clean_text, n_url, n_email, n_phone, n_ip). Pure per-row regexp
    * expressions — zero shuffles; patterns are deliberately conservative
    * (they flag, they don't adjudicate — precision tuning belongs to the
    * caller's pattern set, the operator is the scaffold). */
  def scrubPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val clean = PiiPatterns.foldLeft(col(textCol)) { case (c, (_, pat, rep)) =>
      regexp_replace(c, pat, rep)
    }
    val counts = PiiPatterns.map { case (name, pat, _) =>
      regexp_count(col(textCol), lit(pat)).cast("int").as(s"n_$name")
    }
    df.select(Seq(col(idCol), clean.as("clean_text")) ++ counts: _*)
  }

  /** Document fingerprint: a stable 64-bit hash of the
    * whitespace-normalized lowercased text (rolling-hash analogue). */
  def fingerprint(text: Column): Column =
    xxhash64(lower(regexp_replace(text, "\\s+", " ")))

  /** Top-k characteristic terms per document — the tf-idf family member
    * with an INTEGER-EXACT rank contract: terms order by (tf DESC, df ASC,
    * term ASC), i.e. most frequent in the doc, rarest in the corpus,
    * lexicographic tiebreak. A float tf*ln(N/df) score would rank the same
    * way for fixed tf except at df ties — and its `ln` is not required to
    * be correctly rounded, so two engines can disagree at near-ties; the
    * integer contract makes the result oracle-checkable bit-for-bit.
    *
    * Shape at scale: two hash aggregations (tf per (doc, term), df per
    * term — both map-side partial), one equi-join of df onto tf rows
    * (vocabulary-sized build side: broadcast when it fits, shuffle
    * otherwise — Spark's planner decides), one per-doc top-k window
    * (bounded by tokens-per-doc). Nothing touches raw text twice. */
  def topTerms(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(!Seq("term", "tf", "df", "__r").contains(idCol),
      s"topTerms: id column '$idCol' collides with an output/reserved name")
    import org.apache.spark.sql.expressions.Window
    val toks = df
      .select(col(idCol), explode(split(lower(col(textCol)), "[^\\p{L}]+")).as("term"))
      .where(length(col("term")) > 0)
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(idCol)
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(dfreq, "term")
      .withColumn("__r", row_number().over(w)).where(col("__r") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"))
  }

  /** Top-k bigram collocations over the corpus — phrase mining by pointwise
    * mutual information, with an INTEGER-EXACT score: PMI ranks bigrams by
    * log(c_xy * N^2 / (B * c_x * c_y)); N (total tokens) and B (total
    * bigrams) are corpus constants, so the PMI ORDER equals the order of
    * c_xy / (c_x * c_y). The emitted score is the scaled integer quotient
    * `c_xy * 10^12 div (c_x * c_y)` — pure int64 arithmetic (no log, no
    * float), replayed operand-for-operand by the DuckDB oracle, with
    * (score DESC, w1 ASC, w2 ASC) as the total rank order. `minCount`
    * is the standard hapax filter: without it, any pair of two rare typos
    * tops the list (c_xy = c_x = c_y = 1 maximizes the quotient).
    *
    * Overflow bound: c_xy * 10^12 needs c_xy < 9.2e6 — a corpus with more
    * occurrences of one bigram should raise `minCount` and lower the scale;
    * guarded by the require below at the only place a count enters the
    * scaled product.
    *
    * Shape at scale: token arrays built once per row inside the scan
    * (codegen'd transform — text never shuffles); two hash aggregations
    * (unigram counts, bigram counts, both map-side partial, each keyed by
    * tiny token strings); the c_xy >= minCount filter cuts the bigram table
    * BEFORE the two vocabulary joins; the final top-k is a
    * TakeOrderedAndProject, never a global sort. */
  def collocations(df: DataFrame, textCol: String, minCount: Long, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    val Scale = 1000000000000L // 10^12: c_xy * Scale stays < 2^63 for c_xy < 9.2e6
    val toks = filter(split(lower(col(textCol)), "\\s+"), t => length(t) > 0)
    val rows = df.select(toks.as("toks"))
    val uni = rows.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val bigrams = rows.select(explode(
        when(size(col("toks")) >= 2,
          transform(sequence(lit(1), size(col("toks")) - 1),
            i => struct(element_at(col("toks"), i).as("w1"),
              element_at(col("toks"), i + 1).as("w2"))))
          .otherwise(array())).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bcnt = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
      .where(col("cxy") >= minCount)
    val guarded = bcnt.withColumn("cxy",
      when(col("cxy") < 9200000L, col("cxy"))
        .otherwise(raise_error(concat(lit("collocations: c_xy overflows the 10^12 scale: "),
          col("cxy").cast("string")))))
    guarded
      .join(uni.select(col("w").as("w1"), col("c").as("cx")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("cy")), "w2")
      .withColumn("score", expr(s"cxy * ${Scale}L div (cx * cy)"))
      .orderBy(col("score").desc, col("w1"), col("w2"))
      .limit(k)
      .select("w1", "w2", "cxy", "cx", "cy", "score")
  }

  /** TextRank corpus keywords (Mihalcea & Tarau 2004, the graph-ranking
    * keyword extractor): words are nodes, an undirected edge links every
    * ADJACENT token pair (window 2), and the damped PageRank score ranks
    * the vocabulary — a frequent word only ranks high when its NEIGHBORS
    * are themselves central, which is what separates keywords from mere
    * high-tf noise. Edges below `minCount` occurrences are dropped (the
    * same hapax discipline as [[collocations]]). Returns the top `k`
    * (word, pr) under the total order (pr DESC, word ASC).
    *
    * Edges are WEIGHTED by their co-occurrence count
    * ([[Graphs.pageRankWeightedScaled]]): on a corpus whose word graph is
    * near-complete, the unweighted walk degenerates to near-uniform ranks
    * — the counts carry all the signal, as in the original paper's
    * weighted variant.
    *
    * Exactness: scaled-INTEGER rounds, so the iteration is shuffle-order
    * independent and the listing is hash-exact against an unrolled-CTE
    * SQL replay — no float tolerance.
    * Shape at scale: one tokenize+bigram pass inside the scan (array
    * transform, no self-join), one hash agg to the edge list (<= |vocab|^2
    * but in practice ~|corpus| rows pre-agg, 2-string rows), then
    * `rounds` adjacency joins over (word, pr) pairs only; top-k plans as
    * TakeOrderedAndProject. Documents never shuffle — only tokens and
    * (word, rank) rows. */
  def textRankKeywords(df: DataFrame, textCol: String, minCount: Long,
                       rounds: Int, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    val toks = filter(split(lower(col(textCol)), "\\s+"), t => length(t) > 0)
    val rows = df.select(toks.as("toks"))
    val bigrams = rows.select(explode(
        when(size(col("toks")) >= 2,
          transform(sequence(lit(1), size(col("toks")) - 1),
            i => struct(element_at(col("toks"), i).as("w1"),
              element_at(col("toks"), i + 1).as("w2"))))
          .otherwise(array())).as("bg"))
      .select(least(col("bg.w1"), col("bg.w2")).as("id_a"),
        greatest(col("bg.w1"), col("bg.w2")).as("id_b"))
      .where(col("id_a") =!= col("id_b"))
    val edges = bigrams.groupBy("id_a", "id_b").agg(count(lit(1)).as("w"))
      .where(col("w") >= minCount)
    Graphs.pageRankWeightedScaled(edges, rounds)
      .orderBy(col("pr").desc, col("id").asc)
      .limit(k)
      .select(col("id").as("word"), col("pr"))
  }

  /** Heaps-law vocabulary-growth curve: the corpus split into `buckets`
    * equal-frequency slices in id order, each reporting exact integer
    * (n_tokens, new_types, cum_types) — new_types = vocabulary terms
    * whose FIRST occurrence lands in that slice. The corpus-health probe
    * for dedup/dedup-rate decisions: a healthy crawl keeps minting new
    * vocabulary sublinearly (Heaps); a near-flat tail means the tail is
    * duplicates or boilerplate, and a LINEAR tail means the tokenizer is
    * leaking unique junk (ids, hashes) — both curation bugs this one
    * query surfaces.
    *
    * Shape at scale: one two-pass global rank of the doc ids (no
    * single-task sort), ONE token explode feeding both the
    * first-occurrence (min rank per term) and per-slice occurrence
    * aggregates, a 1-row count broadcast, and a bucket-cardinality
    * (≤ `buckets` rows) self-join for the cumulative — nothing after the
    * aggregates is data-sized. Whitespace-lowercase tokens, the house
    * tokenizer shared with q_heavy_hitters' oracle. */
  def vocabGrowth(docs: DataFrame, idCol: String, textCol: String,
                  buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 1000, s"buckets out of range: $buckets")
    val ranked = SortedNeighborhood.globalRank(
        docs.select(col(idCol).as("__id"), col(textCol).as("__text")),
        col("__id"), col("__id"))
      .localCheckpoint()
    val total = ranked.agg(count(lit(1)).as("__d"))
    val toks = ranked.select(col("rank"),
      explode(filter(split(lower(col("__text")), "\\s+"),
        t => length(t) > 0)).as("tok"))
    val occ = toks.crossJoin(broadcast(total))
      .withColumn("bucket", expr(s"((rank - 1) * $buckets) div __d"))
      .groupBy("bucket").agg(count(lit(1)).as("n_tokens"))
    val newTypes = toks.groupBy("tok").agg(min(col("rank")).as("__fr"))
      .crossJoin(broadcast(total))
      .withColumn("bucket", expr(s"((__fr - 1) * $buckets) div __d"))
      .groupBy("bucket").agg(count(lit(1)).as("new_types"))
    val joined = occ.join(newTypes, Seq("bucket"), "left")
      .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
      .localCheckpoint()
    joined
      .join(joined.select(col("bucket").as("__b2"), col("new_types").as("__nt2")),
        col("__b2") <= col("bucket"))
      .groupBy("bucket", "n_tokens", "new_types")
      .agg(sum(col("__nt2")).as("cum_types"))
  }
}
