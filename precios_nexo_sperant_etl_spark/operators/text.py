"""Text-analysis operators for large-scale training-data pipelines:
language ID, quality scoring, token counting, document fingerprinting.

Beyond-reference surface (BASELINE.json north star). Everything is pure
Catalyst expressions over token arrays — no Python UDFs — so the hot path
stays inside whole-stage codegen and scales linearly with scanned bytes.
The polynomial hashes are kept below 2^31 so 64-bit multiply-accumulate
never overflows (Spark runs ANSI mode; overflow would be an error, not a
wrap).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .sortutil import final_sort

#: Modulus for all rolling hashes (fits products in int64: p*31+c < 2^35).
HASH_P = 1_000_000_007

#: Tiny per-language stopword profiles for the n-gram/stopword heuristic.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "a", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ein"),
}

STOPWORDS = tuple(w for ws in LANG_PROFILES.values() for w in ws)


def tokens(text: Column) -> Column:
    """Whitespace tokenization of trimmed text."""
    return F.split(F.trim(text), r"\s+")


def _word_set_pattern(words: tuple[str, ...]) -> str:
    """Java regex matching exactly the tokens that equal one of ``words``
    under whitespace tokenization: the alternation bounded by zero-width
    token edges. ``(?:^|(?<=\\s))`` / ``(?=\\s|$)`` consume nothing, so
    consecutive stopwords each match; backtracking resolves prefix
    conflicts ('de' vs 'des') exactly like token equality would.
    """
    alt = "|".join(dict.fromkeys(words))  # dedupe, keep order
    return rf"(?:^|(?<=\s))(?:{alt})(?=\s|$)"


def word_set_hits(text: Column, words: tuple[str, ...]) -> Column:
    """Count of tokens of ``text`` that are members of ``words``.

    Semantically identical to
    ``F.size(F.filter(tokens(text), t -> t.isin(*words)))`` but stays in
    whole-stage codegen: higher-order-function lambdas are
    expression-interpreted per token, while ``regexp_count`` runs one
    compiled-regex scan per document — the difference was 10.1s → ~1s for
    text_stats at sf0.1 (VERDICT r1 finding 1). DuckDB oracles keep the
    list_filter form (RE2 lacks lookarounds); the two sides agree because
    both count exact token membership.
    """
    return F.regexp_count(F.trim(text), F.lit(_word_set_pattern(words))).cast("int")


def char_hash_expr(s: str) -> str:
    """SQL for the rolling character hash of string expression ``s``:
    left fold of ``acc*31 + ascii(char) (mod P)``. The same fold is
    reproduced in DuckDB oracles via ``list_reduce`` (see queries_scale),
    so fingerprints are engine-portable by construction.

    NB: higher-order-function folds are expression-interpreted (outside
    whole-stage codegen) — fine for one fold per document (fingerprint),
    too slow for one fold per token/shingle. Use :func:`md5_hash` there.
    """
    return (f"aggregate(transform(sequence(1, length({s})), i -> ascii(substr({s}, i, 1))), "
            f"0L, (a, c) -> (a * 31 + c) % {HASH_P})")


def md5_hash(c: Column) -> Column:
    """48-bit integer hash of a string: first 12 hex digits of md5.

    Fully codegen'd (md5/substring/conv are builtins) and engine-portable:
    DuckDB computes the identical value as
    ``('0x' || substr(md5(s), 1, 12))::BIGINT``. This is the hot-path hash
    for per-token / per-shingle work at scale.
    """
    return F.conv(F.substring(F.md5(c), 1, 12), 16, 10).cast("long")


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document stats: char/token counts, distinct tokens, avg token
    length, stopword ratio — the raw material of quality filters."""
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks)
    stop_hits = word_set_hits(F.col(text_col), STOPWORDS)
    return df.select(
        F.col(id_col),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        n_tok.cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        ((F.length(F.trim(F.col(text_col))) - (n_tok - 1)) / n_tok).alias("avg_token_len"),
        (stop_hits / n_tok).alias("stopword_ratio"),
    )


def quality_expr(text: Column) -> Column:
    """Column form of the composite quality score — usable inside a wider
    projection (e.g. the curation pipeline computes quality, language, and
    token budget in ONE pass over the text instead of three joined
    sub-frames).

    Deliberately UNROUNDED: the raw expression is pure IEEE-754
    arithmetic over integer-derived operands in a fixed order, so any
    engine reproduces it bit-for-bit. A cosmetic ``bround(…, 4)`` here
    once broke cross-engine parity on round-half boundaries — Spark
    rounds the double's shortest decimal repr half-even, while DuckDB's
    ``round_even`` ties break on the binary expansion (0.58125 →
    0.5812 vs 0.5813). Rounding is a presentation concern; keep it out
    of the semantic value.
    """
    toks = tokens(text)
    n_tok = F.size(toks)
    diversity = F.size(F.array_distinct(toks)) / n_tok
    stop_ratio = word_set_hits(text, STOPWORDS) / n_tok
    length_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    return 0.4 * length_score + 0.4 * diversity + 0.2 * stop_ratio


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Composite quality score in [0,1]: rewards mid-length docs, lexical
    diversity, and a natural stopword rate. Deterministic arithmetic only."""
    return df.select(F.col(id_col), quality_expr(F.col(text_col)).alias("quality"))


def lang_hits_exprs(text: Column) -> dict[str, Column]:
    """Per-language stopword hit counts as columns (one compiled-regex scan
    per language profile)."""
    return {lang: word_set_hits(text, ws).cast("long")
            for lang, ws in LANG_PROFILES.items()}


def lang_pred_expr(text: Column) -> Column:
    """Column form of the language prediction (argmax of profile hits,
    ties and zero evidence → 'und')."""
    hits = lang_hits_exprs(text)
    langs = list(LANG_PROFILES)
    best = F.greatest(*[hits[lang] for lang in langs])
    pred = F.lit("und")
    # first language (in fixed order) achieving the max wins
    for lang in reversed(langs):
        pred = F.when(hits[lang] == best, F.lit(lang)).otherwise(pred)
    return F.when(best <= 0, F.lit("und")).otherwise(pred)


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-profile language ID: count hits per language profile, pick
    the max (ties and zero evidence → 'und'). A real system would use
    character n-gram models; the *shape* — per-language hit counts reduced
    to an argmax, all JVM-side — is the scalable part."""
    hits = lang_hits_exprs(F.col(text_col))
    return df.select(F.col(id_col),
                     *[hits[lang].alias(f"hits_{lang}") for lang in LANG_PROFILES],
                     lang_pred_expr(F.col(text_col)).alias("lang_pred"))


def top_terms(df: DataFrame, text_col: str = "text", k: int = 20) -> DataFrame:
    """Corpus-level term frequencies, top-k with deterministic tiebreak —
    explode + partial-aggregated count, the canonical one-shuffle word
    count."""
    toks = (df.select(F.explode(tokens(F.col(text_col))).alias("term")))
    return (toks.groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
                .orderBy(F.desc("freq"), F.asc("term")).limit(k))


#: PII-ish patterns, deliberately lookaround-free (Java regex ≡ RE2).
#: Order matters: emails before bare domains would, URLs first so their
#: embedded host parts aren't half-masked by the email rule.
PII_RULES: tuple[tuple[str, str], ...] = (
    (r"https?://[^\s]+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\+?[0-9][0-9()\-. ]{7,}[0-9]", "<PHONE>"),
)


def redact_pii(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Mask URL / email / phone-shaped spans — the standard pre-training
    scrub pass. A chain of ``regexp_replace`` calls, one compiled-regex
    scan each, whole-stage codegen; rule order is part of the contract
    (URLs first so the email rule never bites a URL's userinfo part).
    Emits the redacted text plus per-rule hit counts so downstream
    audits can quantify what was masked."""
    out = F.col(text_col)
    counts = []
    for pat, mask in PII_RULES:
        counts.append(F.regexp_count(out, F.lit(pat)).cast("long")
                      .alias(f"n_{mask.strip('<>').lower()}"))
        out = F.regexp_replace(out, pat, mask)
    return df.select(F.col(id_col), out.alias("redacted"), *counts)


#: BPE-ish pre-tokenizer pattern: contraction suffixes, letter runs,
#: short digit runs, punctuation runs. Deliberately lookaround-free so
#: Java regex (Spark) and RE2 (DuckDB) match identically; both engines
#: use leftmost-first alternation, so alternative order is significant
#: and must stay in sync with any oracle.
BPE_ISH_PATTERN = r"'(?:[sdmt]|ll|ve|re)|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]"


def token_counts(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Token counting two ways (the LLM-pipeline budget metric): naive
    whitespace tokens and a BPE-ish pre-tokenization count — the latter
    tracks real tokenizer budgets far more closely (punctuation and
    digit runs split off). Both are single compiled-regex scans per
    document, whole-stage codegen."""
    return df.select(
        F.col(id_col),
        F.size(tokens(F.col(text_col))).cast("long").alias("ws_tokens"),
        F.regexp_count(F.col(text_col), F.lit(BPE_ISH_PATTERN))
         .cast("long").alias("bpe_ish_tokens"))


def tfidf_top_terms(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 5) -> DataFrame:
    """Top-k TF-IDF terms per document — the classic keyword/relevance
    signal a curation pipeline uses for topic filtering and quality
    diagnostics.

    The idf is the RATIONAL smooth form ``(N + 1) / (df_t + 1)`` (no
    logarithm): monotone in the same direction, and — unlike ``ln`` —
    composed only of IEEE-754 division/multiplication, so Spark and any
    oracle engine produce bit-identical doubles from identical integer
    inputs (transcendental libm calls may differ in the last ulp and
    break value-hash parity).

    Scale shape: explode → two map-side-combinable aggs (per-(doc,term)
    tf, per-term docfreq); the corpus size joins in as a broadcast
    one-row frame (no driver collect); top-k per doc goes through the
    two-phase ``top_k_per_group`` so no document's term list funnels a
    whole partition. The docfreq join key is the term — hot terms have
    at most one row per (doc, term), bounding skew at |docs|.
    """
    from .serve import top_k_per_group
    toks = df.select(F.col(id_col),
                     F.explode(tokens(F.col(text_col))).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("n_td"))
    doclen = tf.groupBy(id_col).agg(F.sum("n_td").alias("len_d"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    ndocs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (tf.join(doclen, id_col).join(dfreq, "term")
              .crossJoin(F.broadcast(ndocs))
              .withColumn(
                  "tfidf",
                  (F.col("n_td") / F.col("len_d"))
                  * ((F.col("n_docs") + F.lit(1.0))
                     / (F.col("df_t") + F.lit(1.0)))))
    return (top_k_per_group(scored, [id_col],
                            [F.desc("tfidf"), F.asc("term")], k)
            .select(id_col, "term", "n_td", "df_t", "tfidf"))


def vocab_oov_rate(df: DataFrame, vocab: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   vocab_col: str = "term") -> DataFrame:
    """Per-document out-of-vocabulary rate against a vocabulary table —
    the tokenizer-coverage metric run before committing a corpus to a
    fixed vocab.

    The vocabulary is dimension-sized (≤ a few hundred thousand terms)
    → broadcast left join, one corpus scan, one combinable agg on
    doc_id. Documents with zero tokens report null oov_rate rather than
    dividing by zero.
    """
    toks = df.select(F.col(id_col),
                     F.explode(tokens(F.col(text_col))).alias("term"))
    marked = toks.join(
        F.broadcast(vocab.select(F.col(vocab_col).alias("term"),
                                 F.lit(True).alias("_in_vocab"))),
        "term", "left")
    return (marked.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum(F.when(F.col("_in_vocab").isNull(), 1)
                        .otherwise(0)).alias("n_oov"))
            .withColumn("oov_rate", F.col("n_oov") / F.col("n_tokens")))


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Order-sensitive document fingerprint: rolling character hash of the
    full text. Identical documents → identical fingerprint; any edit →
    different (mod collisions). Engine-portable (see char_hash_expr)."""
    return df.select(F.col(id_col),
                     F.expr(char_hash_expr(text_col)).alias("fingerprint"))


def paragraph_dedup(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", sep: str = "\n") -> DataFrame:
    """Corpus-wide paragraph-level deduplication (the CCNet/RefinedWeb
    boilerplate-removal pass): every paragraph keeps only its FIRST
    occurrence across the whole corpus — later repeats (site chrome,
    license blocks, navigation text, intra-document copy-paste) are
    dropped — and each document is reassembled from its surviving
    paragraphs in original order.

    Keep-first is deterministic: occurrence order is (doc_id, position).
    Whitespace-only paragraphs are discarded up front. Documents whose
    every paragraph was seen earlier vanish from the output (their
    ``text_dedup`` would be empty).

    Scale shape: posexplode is narrow; the dedup is ONE shuffle keyed by
    the 48-bit paragraph hash (window row_number — the hot boilerplate
    hash concentrates its copies on one reducer, but carries only
    (doc_id, pos, hash) rows, not text bytes, so even a million-copy
    boilerplate paragraph is ~24 MB on that reducer); reassembly is one
    combinable groupBy on doc_id. Text bytes cross the wire once.
    """
    para = F.trim(F.col("_para"))
    paras = (df.select(F.col(id_col),
                       F.posexplode(F.split(F.col(text_col), sep))
                        .alias("_pos", "_para"))
               .filter(para != "")
               .select(id_col, "_pos", F.col("_para"),
                       md5_hash(para).alias("_h")))
    from pyspark.sql import Window
    w = Window.partitionBy("_h").orderBy(F.col(id_col), F.col("_pos"))
    flagged = paras.withColumn("_kept", F.row_number().over(w) == 1)
    return (flagged.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_paras"),
                 F.sum(F.col("_kept").cast("long")).alias("n_kept"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.when(F.col("_kept"),
                                    F.struct(F.col("_pos").alias("pos"),
                                             F.col("_para").alias("para"))))),
                         lambda x: x["para"]),
                     sep).alias("text_dedup"))
            .filter(F.col("n_kept") > 0)
            .transform(final_sort, id_col))


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", ns: tuple[int, ...] = (2, 3)) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021's
    repetition filters, re-expressed for Spark):

    - ``dup_token_frac`` — fraction of tokens that repeat an earlier
      token, ``(n_tokens - n_distinct) / n_tokens``;
    - ``top{n}gram_char_frac`` — fraction of the document's characters
      covered by occurrences of its single most frequent word n-gram,
      ``count * length(gram) / n_chars`` (0.0 when the doc is shorter
      than n tokens).

    Scale shape: the per-doc token stats are one projection; each n-gram
    pass is explode → hash-agg on (doc_id, gram) → per-doc max — both
    aggs map-side combinable, no windows over the corpus. The per-doc
    argmax uses ``max(struct(count, gram))`` so ties break to the
    lexicographically greatest gram — deterministic under any
    partitioning, mirrored in oracles as ``ORDER BY c DESC, g DESC``.
    """
    toks = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        toks.alias("_toks"))
    out = base.select(
        F.col(id_col), "n_chars", "_toks",
        ((F.col("n_tokens") - F.col("n_distinct")) / F.col("n_tokens"))
         .alias("dup_token_frac"))
    for n in ns:
        grams = out.select(
            F.col(id_col),
            F.explode(
                F.when(F.size("_toks") >= n,
                       F.transform(
                           F.sequence(F.lit(1), F.size("_toks") - n + 1),
                           lambda i: F.array_join(F.slice("_toks", i, n), " ")))
                 .otherwise(F.array().cast("array<string>"))).alias("g"))
        top = (grams.groupBy(id_col, "g")
               .agg(F.count(F.lit(1)).alias("c"))
               .groupBy(id_col)
               .agg(F.max(F.struct(F.col("c"), F.col("g"))).alias("m")))
        frac = (F.col("m.c") * F.length(F.col("m.g")) / F.col("n_chars"))
        out = (out.join(top, id_col, "left")
               .withColumn(f"top{n}gram_char_frac",
                           F.coalesce(frac, F.lit(0.0)))
               .drop("m"))
    return final_sort(out.drop("_toks", "n_chars"), id_col)


def exact_substring_coverage(df: DataFrame, window: int = 8,
                             text_col: str = "text",
                             id_col: str = "doc_id") -> DataFrame:
    """Exact-substring duplication coverage (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" —
    ExactSubstr, re-expressed relationally): every ``window``-token
    sliding window is hashed; a window whose hash also occurs in ANOTHER
    document marks its token span as duplicated, and per document the
    duplicated spans are merged into maximal islands whose union is the
    doc's duplicated-token coverage. Output per document:
    ``(doc_id, n_tokens, n_dup_windows, n_spans, covered_tokens,
    dup_frac)``.

    This is POSITIONAL, not set-based: MinHash/containment measure
    shingle-set overlap of whole documents, while this op localizes
    exactly WHICH token runs are shared verbatim across documents — the
    signal the suffix-array pass in the paper computes. A relational
    window join replaces the suffix array: same result for spans ≥
    ``window`` tokens, no global sort, no driver state.

    Scale shape: window extraction is a linear explode (≈1 row per
    token, same fan-out as shingling); the cross-doc test is one
    map-side-combinable agg on the window hash; the interval merge runs
    only over DUPLICATED windows, partitioned by doc_id (a classic
    gaps-and-islands: running max of span end → island ids → per-island
    extent). No corpus-wide window functions, no driver collects.
    """
    from pyspark.sql import Window as PW
    w = window
    toks = F.array_remove(tokens(F.col(text_col)), "")
    src = df
    # bench-scale scans are one parquet file: spread the per-window
    # slice+md5 projection across cores (no-op on multi-split inputs)
    spark = df.sparkSession
    if df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        src = df.repartition(spark.sparkContext.defaultParallelism)
    sized = src.select(F.col(id_col), toks.alias("tk"),
                       F.size(toks).cast("long").alias("n_tokens"))
    wins = (sized.select(
                F.col(id_col), "tk",
                F.explode(
                    F.when(F.col("n_tokens") >= w,
                           F.sequence(F.lit(1),
                                      F.col("n_tokens").cast("int") - w + 1))
                     .otherwise(F.array().cast("array<int>"))).alias("start"))
            .select(F.col(id_col), "start",
                    F.md5(F.array_join(F.slice("tk", F.col("start"), w), " "))
                     .alias("h")))
    # Cross-doc duplicated hashes: the span is shared with at least one
    # OTHER document (within-doc repeats alone are Gopher's signal, not
    # this one's). min!=max over a window partitioned by the hash keeps
    # it one shuffle of the window relation — the earlier
    # groupBy + semi-join shape shuffled it twice AND re-ran the
    # per-window slice+md5 projection once per consumer (guide §2.4).
    by_h = PW.partitionBy("h")
    spans = (wins.withColumn("_lo", F.min(id_col).over(by_h))
                 .withColumn("_hi", F.max(id_col).over(by_h))
                 .filter(F.col("_lo") != F.col("_hi"))
                 .select(F.col(id_col), "start",
                         (F.col("start") + w - 1).alias("end")))
    by_doc = PW.partitionBy(id_col).orderBy("start")
    prev_end = F.max("end").over(
        by_doc.rowsBetween(PW.unboundedPreceding, -1))
    # New island when this span starts past the furthest end reached so
    # far +1 (contiguous spans merge; "-2" sentinel makes row 1 open one).
    isl = (spans.withColumn(
                "_new", (F.col("start") > F.coalesce(prev_end, F.lit(-2)) + 1)
                        .cast("int"))
                .withColumn("_isl", F.sum("_new").over(
                    by_doc.rowsBetween(PW.unboundedPreceding, 0))))
    per_doc = (isl.groupBy(id_col, "_isl")
                  .agg(F.min("start").alias("_s"), F.max("end").alias("_e"),
                       F.count(F.lit(1)).alias("_nw"))
                  .groupBy(id_col)
                  .agg(F.sum("_nw").alias("n_dup_windows"),
                       F.count(F.lit(1)).alias("n_spans"),
                       F.sum(F.col("_e") - F.col("_s") + 1).cast("long")
                        .alias("covered_tokens")))
    return (sized.select(id_col, "n_tokens")
                 .join(per_doc, id_col, "left")
                 .select(F.col(id_col), "n_tokens",
                         F.coalesce("n_dup_windows", F.lit(0)).cast("long")
                          .alias("n_dup_windows"),
                         F.coalesce("n_spans", F.lit(0)).cast("long")
                          .alias("n_spans"),
                         F.coalesce("covered_tokens", F.lit(0)).cast("long")
                          .alias("covered_tokens"),
                         F.when(F.col("n_tokens") > 0,
                                F.coalesce("covered_tokens", F.lit(0))
                                  .cast("double") /
                                F.col("n_tokens").cast("double"))
                          .otherwise(F.lit(0.0)).alias("dup_frac"))
                 .transform(final_sort, id_col))


def bigram_lm_scores(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     model_df: DataFrame | None = None) -> DataFrame:
    """CCNet-style language-model quality signal, cross-engine exact:
    per-document MEAN BIGRAM PROBABILITY under an add-1-smoothed bigram
    model — low scores mark gibberish/boilerplate the way LM perplexity
    filtering does, without the log: every per-bigram probability is one
    IEEE division of integer counts ((c12+1)/(c1+V), correctly rounded,
    so bit-identical in any engine), and the per-document mean folds the
    probabilities in TOKEN-POSITION order (same sorted-fold policy as
    ``similarity.label_centroids``), so no log-implementation or
    summation-order divergence can leak into the value. (Perplexity is a
    monotone transform of the per-doc geometric mean; the arithmetic
    mean ranks documents the same way for filtering purposes and stays
    exactly representable.)

    ``model_df`` trains the counts on a DIFFERENT corpus (the production
    shape: score a crawl against a clean reference model); default is
    self-scoring. Scale: two combinable count aggs for the model, one
    equi-join on (w1, w2) — hot bigrams skew-bounded by vocabulary — and
    a per-DOCUMENT (not per-group) sorted fold, so task memory is one
    doc's bigram list. The vocabulary size rides a 1-row broadcast
    (BNLJ by construction, same documented shape as the ann_cosine
    query-set broadcast).
    """
    from pyspark.sql import Window

    def _bigrams(frame: DataFrame) -> DataFrame:
        toks = frame.select(
            F.col(id_col),
            F.posexplode(tokens(F.col(text_col))).alias("pos", "w1"))
        w = Window.partitionBy(id_col).orderBy("pos")
        return (toks.select(id_col, "pos", "w1",
                            F.lead("w1").over(w).alias("w2"))
                .filter(F.col("w2").isNotNull()))

    train = _bigrams(model_df if model_df is not None else df)
    c12 = train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = train.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (model_df if model_df is not None else df).select(
        F.explode(tokens(F.col(text_col))).alias("w")) \
        .agg(F.countDistinct("w").alias("v"))

    score = _bigrams(df) if model_df is not None else train
    p = (score.join(c12, ["w1", "w2"], "left")
              .join(c1, "w1", "left")
              .crossJoin(F.broadcast(vocab))
              .select(id_col, "pos",
                      ((F.coalesce(F.col("c12"), F.lit(0)) + 1)
                       .cast("double")
                       / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")))
                      .alias("p")))
    agg = (p.groupBy(id_col)
           .agg(F.array_sort(F.collect_list(F.struct("pos", "p")))
                .alias("ps")))
    vals = F.transform(F.col("ps"), lambda x: x["p"])
    fold = F.aggregate(vals, F.lit(0.0), lambda a, x: a + x)
    return (agg.select(F.col(id_col),
                       F.size("ps").cast("long").alias("n_bigrams"),
                       (fold / F.size("ps")).alias("mean_bigram_p"))
            .transform(final_sort, id_col))


def chunk_documents(docs: DataFrame, chunk_size: int = 32, step: int = 24,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    context-window chunker that feeds training (and RAG passage
    extraction). Chunk ``c`` covers tokens ``[c*step, c*step+chunk_size)``
    (the final chunk may be shorter); ``step < chunk_size`` gives
    ``chunk_size - step`` tokens of overlap so no span is split across a
    boundary without also appearing whole in some chunk.

    Scale shape: a pure narrow map — tokenize, build the start index
    array with ``sequence``, ``slice`` per start, ``posexplode``. No
    shuffle, no UDF; output rows ≈ input tokens / step regardless of
    document skew, and whole-stage codegen keeps it scan-bound.
    """
    if step <= 0 or chunk_size <= 0:
        raise ValueError("chunk_size and step must be positive")
    if step > chunk_size:
        # a stride past the window would silently DROP the tokens in
        # the gap — never a curation intent; fail loudly instead.
        raise ValueError(
            f"step ({step}) > chunk_size ({chunk_size}) would skip tokens")
    tk = tokens(F.col(text_col))
    chunks = F.expr(
        f"transform(sequence(0, CAST((size(tk) - 1) / {step} AS INT)), "
        f"c -> slice(tk, c * {step} + 1, {chunk_size}))")
    # size(tk) > 0 alone would pass empty/whitespace-only docs, whose
    # tokenization is [''] — emitting a bogus chunk_text='' row with
    # n_chunk_tokens=1. Require at least one NON-empty token, like the
    # BPE/DSIR operators do.
    return (docs.select(F.col(id_col), tk.alias("tk"))
            .filter(F.size(F.array_remove(F.col("tk"), "")) > 0)
            .select(id_col, F.posexplode(chunks).alias("chunk_id", "ctk"))
            .select(F.col(id_col),
                    F.col("chunk_id").cast("int").alias("chunk_id"),
                    (F.col("chunk_id") * step).cast("int").alias("chunk_start"),
                    F.array_join("ctk", " ").alias("chunk_text"),
                    F.size("ctk").alias("n_chunk_tokens")))


def dsir_importance_weights(docs: DataFrame, target: Column, k: int = 32,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """Data-selection importance weights (DSIR, Xie et al. 2023,
    arXiv:2302.03169), unigram variant: weight each document by how much
    more likely its tokens are under the TARGET distribution (rows where
    ``target`` is true) than under the RAW corpus distribution, both
    add-1 smoothed over the shared vocabulary.

    Cross-engine exactness without logs: every per-token ratio is a
    quotient of exact-integer products ((c_t+1)(N_r+V)) / ((N_t+V)(c_r+1)),
    and the per-document weight is the POSITION-ORDERED product over the
    first ``k`` tokens — multiplication and division are exact IEEE ops,
    so the fold is bit-identical in any engine (no libm). Bounding the
    product at ``k`` tokens keeps its dynamic range inside double.

    Scale shape: one corpus scan builds the two count tables (combinable
    shuffles, vocab-sized results); scoring joins the exploded prefix
    tokens against them (broadcast when vocab fits, shuffle join
    otherwise — Catalyst/AQE decides) plus a 1-row broadcast of the
    totals. No UDFs anywhere.
    """
    # r12 single-pass counts: cr, ct and the scalar totals used to be
    # three independent corpus-wide subtrees (three tokenize+explode
    # evaluations, two vocab shuffles, a left join back) — now ONE
    # corpus explode feeds ONE vocab aggregation carrying both counts
    # (sum-when gives ct = 0 where the old left join gave null, same
    # +1-smoothed value), and the totals aggregate the VOCAB table
    # (nr = Σcr, nt = Σct, v = row count — identical integers). The
    # tokenize is also spread to core width (single-file scan at bench
    # scale; see operators.spread).
    from .spread import fanout_by
    tk = tokens(F.col(text_col))
    base = (fanout_by(docs, id_col)
            .select(F.col(id_col), tk.alias("tk"), target.alias("is_t"))
            .filter(F.size("tk") > 0))
    alltok = base.select(F.explode("tk").alias("w"), "is_t")
    wc = alltok.groupBy("w").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("ct"))
    scal = wc.agg(F.sum("cr").alias("nr"), F.sum("ct").alias("nt"),
                  F.count(F.lit(1)).alias("v"))
    tok = base.select(id_col,
                      F.posexplode(F.slice("tk", 1, k)).alias("pos", "w"))
    ratio = ((F.col("ct") + 1).cast("double")
             * (F.col("nr") + F.col("v")).cast("double")
             / ((F.col("nt") + F.col("v")).cast("double")
                * (F.col("cr") + 1).cast("double")))
    r = (tok.join(wc, "w")
            .crossJoin(F.broadcast(scal))
            .select(id_col, "pos", ratio.alias("r")))
    agg = (r.groupBy(id_col)
            .agg(F.array_sort(F.collect_list(F.struct("pos", "r")))
                 .alias("ps")))
    vals = F.transform(F.col("ps"), lambda x: x["r"])
    fold = F.aggregate(vals, F.lit(1.0), lambda a, x: a * x)
    return (agg.select(F.col(id_col), F.size("ps").alias("n_scored"),
                       fold.alias("dsir_weight"))
               .transform(final_sort, id_col))


#: Gopher-style rule thresholds (Rae et al. 2021, arXiv:2112.11446,
#: Table A1), word-count floor scaled to this corpus's short synthetic
#: documents (the paper uses 50; these docs average tens of words).
GOPHER_MIN_WORDS = 5
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 2.0
GOPHER_MAX_MEAN_WORD_LEN = 12.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_WORD_RATIO = 0.8
GOPHER_MIN_STOPWORD_HITS = 2


def gopher_passes_expr(text: Column) -> Column:
    """The :func:`gopher_quality_flags` conjunction as ONE Column
    expression, for pipelines that only need the pass/fail verdict:
    composing it inline keeps the corpus to a single scan instead of a
    join back against the flags frame (same subexpressions, so the
    verdict is bit-identical to ``passes_gopher``; pinned by
    tests/test_text_ops.py)."""
    tk = tokens(text)
    n_words = F.size(tk).cast("bigint")
    mean_wl = (F.length(F.trim(text)) - (F.size(tk) - 1)) / F.size(tk)
    n_sym = F.regexp_count(text, F.lit(r"#|\.\.\.|…"))
    n_alpha = F.size(F.filter(tk, lambda t: t.rlike("[A-Za-z]")))
    n_stop = word_set_hits(text, STOPWORDS)
    return ((n_words >= GOPHER_MIN_WORDS)
            & (n_words <= GOPHER_MAX_WORDS)
            & (mean_wl >= GOPHER_MIN_MEAN_WORD_LEN)
            & (mean_wl <= GOPHER_MAX_MEAN_WORD_LEN)
            & ((n_sym / n_words) < GOPHER_MAX_SYMBOL_RATIO)
            & ((n_alpha / n_words) >= GOPHER_MIN_ALPHA_WORD_RATIO)
            & (n_stop.cast("bigint") >= GOPHER_MIN_STOPWORD_HITS))


def gopher_quality_flags(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Rule-based document quality filter in the style of Gopher's
    heuristics (Rae et al. 2021, Table A1): hard bounds instead of a
    blended score, one boolean column per rule plus the conjunction —
    the shape curation pipelines want, because each rule's kill rate is
    auditable on its own (``GROUP BY`` the flags) before anything is
    dropped.

    Rules (thresholds in module constants): word count within bounds,
    mean word length within bounds, symbol-to-word ratio ('#'/ellipsis)
    below cap, ≥80% of words contain a letter, ≥2 stopword hits.

    Mean word length is exact integer arithmetic over the trimmed text
    (chars minus separators, over token count) — the same formula as
    :func:`text_stats`. The alpha-word test is the one per-token lambda
    (``filter`` + ``rlike``); it is interpreted, but runs once per
    document over an already-split array, and DuckDB's ``list_filter``
    mirrors it exactly.
    """
    tk = tokens(F.col(text_col))
    n_words = F.size(tk).cast("bigint")
    mean_wl = (F.length(F.trim(F.col(text_col))) - (F.size(tk) - 1)) \
        / F.size(tk)
    n_sym = F.regexp_count(F.col(text_col), F.lit(r"#|\.\.\.|…"))
    n_alpha = F.size(F.filter(tk, lambda t: t.rlike("[A-Za-z]")))
    n_stop = word_set_hits(F.col(text_col), STOPWORDS)
    base = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        (n_sym / n_words).alias("symbol_ratio"),
        (n_alpha / n_words).alias("alpha_word_ratio"),
        n_stop.cast("bigint").alias("n_stopword_hits"))
    ok_wc = ((F.col("n_words") >= GOPHER_MIN_WORDS)
             & (F.col("n_words") <= GOPHER_MAX_WORDS))
    ok_wl = ((F.col("mean_word_len") >= GOPHER_MIN_MEAN_WORD_LEN)
             & (F.col("mean_word_len") <= GOPHER_MAX_MEAN_WORD_LEN))
    ok_sym = F.col("symbol_ratio") < GOPHER_MAX_SYMBOL_RATIO
    ok_alpha = F.col("alpha_word_ratio") >= GOPHER_MIN_ALPHA_WORD_RATIO
    ok_stop = F.col("n_stopword_hits") >= GOPHER_MIN_STOPWORD_HITS
    return base.select(
        "*",
        ok_wc.alias("ok_word_count"),
        ok_wl.alias("ok_word_len"),
        ok_sym.alias("ok_symbol_ratio"),
        ok_alpha.alias("ok_alpha_words"),
        ok_stop.alias("ok_stopwords"),
        (ok_wc & ok_wl & ok_sym & ok_alpha & ok_stop)
            .alias("passes_gopher")).transform(final_sort, id_col)


def temperature_mix(docs: DataFrame, group_col: str = "source") -> DataFrame:
    """Temperature-scaled domain mixing weights (XLM-R/mT5 α-smoothing,
    α = 1/2): ``target_frac_i ∝ n_i^α`` flattens the source distribution
    without going fully uniform; ``sample_weight = target/actual`` is the
    per-source resampling factor.

    Cross-engine exactness: α = 1/2 is IEEE ``sqrt`` (correctly rounded
    in both engines), and the normalizing denominator — a sum of doubles,
    which IS order-sensitive — is folded in SORTED group order on both
    sides (Spark: ``aggregate`` over an ``array_sort``-ed
    ``collect_list``; DuckDB: ``SUM(... ORDER BY source)``), so the whole
    result is hash-exact. The per-group count table is tiny (domains,
    not documents), so the sorted fold and the broadcast are O(groups).
    """
    c = docs.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    t = c.agg(
        F.sum("n_docs").alias("n_total"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(
                F.col(group_col).alias("g"),
                F.sqrt(F.col("n_docs").cast("double")).alias("sq")))),
            F.lit(0.0), lambda acc, x: acc + x["sq"]).alias("denom"))
    sq = F.sqrt(F.col("n_docs").cast("double"))
    actual = F.col("n_docs") / F.col("n_total")
    target = sq / F.col("denom")
    return (c.crossJoin(F.broadcast(t))
             .select(group_col, "n_docs",
                     actual.alias("actual_frac"),
                     target.alias("target_frac"),
                     (target / actual).alias("sample_weight"))
             .orderBy(group_col))


#: HTML→text extraction passes, shared verbatim by the Spark engine and
#: the DuckDB oracle (backreference-free, lazy-quantifier RE2-safe
#: subset — Java regex agrees on all of it, which the value oracle
#: pins). Order matters: script/style bodies must vanish BEFORE the
#: generic tag strip (their content is not text), comments next, then
#: tags; entities decode LAST (standard order — decoding '&amp;lt;'
#: early would fabricate tags), with &amp; last among entities.
HTML_STRIP_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"(?is)<(script|style)[^>]*>.*?</(script|style)\s*>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"<[^>]+>", " "),
)
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"),
)


def html_to_text(c: Column) -> Column:
    """Boilerplate-free text from an HTML column — the first step of
    every web-corpus curation pipeline (trafilatura-class tools do the
    same passes plus DOM heuristics; this is the deterministic core:
    drop script/style bodies, drop comments, strip tags, decode the
    common entities, collapse whitespace). Pure Column expressions, so
    the extraction runs in whole-stage codegen on the scan."""
    out = c
    for pat, repl in HTML_STRIP_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    for ent, ch in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


# ---------------------------------------------------------------------------
# Multi-pattern blocklist matching (Aho-Corasick) — banned-phrase /
# contamination-marker screening runs over every document with pattern
# lists in the hundreds-to-thousands, where per-pattern regex passes
# are O(patterns x text) and a trie automaton is O(text + matches).
# The automaton is built once driver-side (blocklists are dimension
# data), captured by the Arrow batch closure, and every occurrence is
# counted — including overlapping ones, which replace()-style counting
# misses. Beyond-reference capability (SURVEY §2.8).
# ---------------------------------------------------------------------------

def build_aho_corasick(patterns: list[str]) -> dict:
    """Build the classic Aho-Corasick automaton: goto trie, BFS fail
    links, and output links (fail-chain shortcut to the nearest node
    that ends a pattern) so every match is reported exactly once even
    when patterns overlap or nest."""
    from collections import deque
    if not patterns or any(not p for p in patterns):
        raise ValueError("patterns must be non-empty strings")
    goto: list[dict[str, int]] = [{}]
    out: list[list[int]] = [[]]
    for pid, pat in enumerate(patterns):
        node = 0
        for ch in pat:
            nxt = goto[node].get(ch)
            if nxt is None:
                nxt = len(goto)
                goto[node][ch] = nxt
                goto.append({})
                out.append([])
            node = nxt
        out[node].append(pid)
    fail = [0] * len(goto)
    olink = [0] * len(goto)                  # 0 = no pattern ancestor
    q = deque(goto[0].values())
    while q:
        node = q.popleft()
        for ch, child in goto[node].items():
            f = fail[node]
            while f and ch not in goto[f]:
                f = fail[f]
            nf = goto[f].get(ch, 0)
            fail[child] = 0 if nf == child else nf
            olink[child] = (fail[child] if out[fail[child]]
                            else olink[fail[child]])
            q.append(child)
    return {"goto": goto, "fail": fail, "out": out, "olink": olink,
            "n": len(patterns)}


def ac_count_all(ac: dict, text: str) -> list[int]:
    """Walk the automaton over ``text`` and return per-pattern
    occurrence counts, counting EVERY occurrence (overlapping and
    nested included) via the output-link chains."""
    goto, fail, out, olink = ac["goto"], ac["fail"], ac["out"], ac["olink"]
    counts = [0] * ac["n"]
    node = 0
    for ch in text:
        while node and ch not in goto[node]:
            node = fail[node]
        node = goto[node].get(ch, 0)
        v = node if out[node] else olink[node]
        while v:
            for pid in out[v]:
                counts[pid] += 1
            v = olink[v]
    return counts


# ---------------------------------------------------------------------------
# Suffix array + Kasai LCP — the classic exact-repetition machinery
# (the data structure behind "Deduplicating Training Data Makes
# Language Models Better"-style suffix dedup). exact_substring_coverage
# above replaces the suffix array with a relational window join for
# span coverage; this is the real structure for per-document queries
# the relational form can't express cheaply, e.g. the longest repeated
# substring. Pure per-document work behind the Arrow seam.
# ---------------------------------------------------------------------------

def suffix_array(s: str) -> list[int]:
    """O(n log^2 n) prefix-doubling suffix array: rank pairs sorted per
    round, fully deterministic (no comparator or hashing tricks)."""
    n = len(s)
    if n == 0:
        return []
    sa = list(range(n))
    rank = [ord(c) for c in s]
    tmp = [0] * n
    k = 1
    while True:
        def key(i: int) -> tuple[int, int]:
            return (rank[i], rank[i + k] if i + k < n else -1)
        sa.sort(key=key)
        tmp[sa[0]] = 0
        for j in range(1, n):
            tmp[sa[j]] = tmp[sa[j - 1]] + (key(sa[j]) != key(sa[j - 1]))
        rank = tmp[:]
        if rank[sa[-1]] == n - 1 or k >= n:
            return sa
        k <<= 1


def lcp_kasai(s: str, sa: list[int]) -> list[int]:
    """Kasai's O(n) LCP: lcp[j] = longest common prefix of the suffixes
    at sa[j] and sa[j-1] (lcp[0] = 0)."""
    n = len(s)
    rank = [0] * n
    for j, i in enumerate(sa):
        rank[i] = j
    lcp = [0] * n
    h = 0
    for i in range(n):
        if rank[i] > 0:
            j = sa[rank[i] - 1]
            while i + h < n and j + h < n and s[i + h] == s[j + h]:
                h += 1
            lcp[rank[i]] = h
            if h:
                h -= 1
        else:
            h = 0
    return lcp


def longest_repeated_substring(s: str) -> tuple[int, str]:
    """(length, substring) of the longest substring occurring >= 2
    times (overlaps allowed); ties resolve to the lexicographically
    smallest, which falls out of suffix-array order for free. Empty
    answer for strings with no repeated character."""
    if len(s) < 2:
        return 0, ""
    sa = suffix_array(s)
    lcp = lcp_kasai(s, sa)
    best = max(lcp)
    if best == 0:
        return 0, ""
    j = lcp.index(best)          # first in SA order = smallest substring
    return best, s[sa[j]:sa[j] + best]


def kneser_ney_scores(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      discount: float = 0.75) -> DataFrame:
    """Interpolated Kneser-Ney bigram quality signal (Kneser & Ney 1995;
    Chen & Goodman 1998 — the smoothing behind real LM-perplexity
    filters such as CCNet's): per-document MEAN and MIN of

        P_kn(w2 | w1) = (max(c(w1,w2) - D, 0)
                         + D * N1+(w1,*) * (N1+(*,w2) / B)) / c(w1, *)

    where ``N1+(w1,*)`` counts distinct continuations of ``w1``,
    ``N1+(*,w2)`` distinct histories of ``w2`` (the continuation
    probability — the part add-1 smoothing gets wrong), and ``B`` the
    number of distinct bigram types. Same no-log policy as
    :func:`bigram_lm_scores`: every probability is a fixed tree of
    integer-count IEEE divisions, the per-doc mean folds in
    token-position order, and MIN is order-free — bit-identical
    cross-engine.

    Scale: c12/history/continuation stats are three combinable count
    aggs over the bigram stream (vocabulary-bounded output); scoring is
    equi-joins on w1/w2 plus a 1-row broadcast for B; the sorted fold
    is per-DOCUMENT, so task memory is one doc's bigram list.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "w1"))
    w = Window.partitionBy(id_col).orderBy("pos")
    bg = (toks.select(id_col, "pos", "w1",
                      F.lead("w1").over(w).alias("w2"))
          .filter(F.col("w2").isNotNull()))

    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    hist = c12.groupBy("w1").agg(F.sum("c12").alias("c1"),
                                 F.count(F.lit(1)).alias("n_after"))
    cont = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("n_before"))
    btypes = c12.agg(F.count(F.lit(1)).alias("bt"))

    d = F.lit(discount)
    p = (bg.join(c12, ["w1", "w2"])
           .join(hist, "w1")
           .join(cont, "w2")
           .crossJoin(F.broadcast(btypes))
           .select(id_col, "pos",
                   ((F.greatest(F.col("c12").cast("double") - d, F.lit(0.0))
                     + d * F.col("n_after").cast("double")
                     * (F.col("n_before").cast("double")
                        / F.col("bt").cast("double")))
                    / F.col("c1").cast("double")).alias("p")))
    agg = (p.groupBy(id_col)
           .agg(F.array_sort(F.collect_list(F.struct("pos", "p")))
                .alias("ps"),
                F.min("p").alias("min_kn_p")))
    vals = F.transform(F.col("ps"), lambda x: x["p"])
    fold = F.aggregate(vals, F.lit(0.0), lambda a, x: a + x)
    return (agg.select(F.col(id_col),
                       F.size("ps").cast("long").alias("n_bigrams"),
                       (fold / F.size("ps")).alias("mean_kn_p"),
                       "min_kn_p")
            .transform(final_sort, id_col))


def soundex_col(name: Column) -> Column:
    """American Soundex (the NARA coding rules) as a pure Column
    expression — JVM-side codegen, no UDF: H/W are transparent
    separators (removed before run-collapsing), vowels break adjacency
    then drop, the first letter's own code suppresses a duplicate
    second code, and the result pads to letter + 3 digits. Run
    collapsing is spelled as six per-digit ``regexp_replace`` passes so
    the same expression is RE2-safe for the DuckDB oracle (RE2 has no
    backreferences). Verified on the classic vectors: ROBERT/RUPERT →
    R163, ASHCRAFT → A261 (H transparent), TYMCZAK → T522,
    PFISTER → P236, HONEYMAN → H555. Empty/non-alpha input → ''."""
    clean = F.regexp_extract(F.upper(name), "^[A-Z]+", 0)
    first = F.substring(clean, 1, 1)
    t1 = F.translate(F.substring(clean, 2, 1 << 20), "HW", "")
    dg = F.translate(t1, "BFPVCGJKQSXZDTLMNRAEIOUY",
                     "111122222222334556000000")
    for d in "123456":
        dg = F.regexp_replace(dg, d + "+", d)
    fcode = F.translate(first, "BFPVCGJKQSXZDTLMNRAEIOUYHW",
                        "11112222222233455600000000")
    digits = F.regexp_replace(
        F.when(F.substring(dg, 1, 1) == fcode,
               F.substring(dg, 2, 1 << 20)).otherwise(dg), "0", "")
    return F.when(clean == "", F.lit("")) \
        .otherwise(F.concat(first,
                            F.substring(F.concat(digits, F.lit("000")),
                                        1, 3)))
