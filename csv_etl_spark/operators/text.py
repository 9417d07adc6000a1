"""Text analysis operators for training-data pipelines (SURVEY §2.9 /
BASELINE north star): tokenization, quality scoring, language ID, document
fingerprinting, corpus statistics and word-level tokenizer training.

The column functions (``ws_tokens``, ``quality_score``, ``lang_id``,
``fingerprint``, ``normalize_text``, ...) are per-row built-in
expressions.  The frame operators, each with its plan:

* ``text_metrics``, ``repetition_metrics``, ``gopher_quality``: one
  map-only projection;
* ``length_histogram``: one groupBy on the bin id;
* ``length_outliers``: two scalar percentile aggregates broadcast back,
  then a map-only flag;
* ``top_tokens``, ``top_token_pairs``: explode, count groupBy,
  TakeOrdered top-k;
* ``tokens_to_ids``: the ``top_tokens`` vocabulary broadcast-joined to
  the exploded stream, one doc-keyed groupBy;
* ``unigram_logprob``, ``bigram_logprob``: token- or pair-keyed count
  groupBys joined back to the stream, one doc-keyed mean;
* ``tfidf_top_terms``, ``bm25_top_terms``: the persisted (doc, token) tf
  table, a token-keyed df join, a per-document window;
* ``lm_score_buckets``: ``unigram_logprob`` plus one per-group tercile
  aggregate broadcast back;
* ``dsir_importance``: corpus and target token counts, a broadcast
  per-token log-ratio table, one doc-keyed sum;
* ``phrase_merges``: k localCheckpoint rounds of pair count, one driver
  row and one literal merge;
* ``apply_phrase_merges``: k chained literal replaces, map-only;
* ``corpus_report``: one map-only projection and one groupBy.

Shared helpers, one per decision: ``_lower_tokens`` (the lowered token
stream), ``_adjacent_pairs`` (the pair build), ``_every_doc`` (the
restore of zero-token documents), ``_top_k`` and ``_doc_top_k`` (the
corpus and per-document rank rules), ``_doc_term_stats`` (the tf table),
``_merge_stream`` and ``_merge`` (the merge pass).  Every ``text_col``,
``id_col`` and ``by`` is read through ``local.ident_col``: a column name
is one literal identifier, whatever its characters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from csv_etl_spark.local import ident_col, local_values_frame
from csv_etl_spark.operators._cache import BoundedDriverMemo as _BDM
from csv_etl_spark.operators._cache import BoundedPersistCache as _TF_BPC

# persisted (doc, token) tf table shared by tfidf_top_terms and
# bm25_top_terms, plus the lm_score_buckets / dsir_importance stages
_TF_CACHE = _TF_BPC(max_entries=4)

# r17: learned BPE merge tables, keyed by (tokenized-input plan,
# min_count, joiner) — see phrase_merges.  Driver-side lists, session-
# bounded, cleared between bench passes exactly like the persist caches.
_MERGE_MEMO = _BDM(max_entries=8)

# Small, order-stable English stopword list — shared with the DuckDB oracle.
EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "this", "for", "on", "with", "as", "at", "by", "be", "are",
]

# BPE-ish word/number/punct splitter (GPT-2-style coarse approximation):
# runs of letters, runs of digits, or single non-space symbols.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

PUNCT_CLASS = r"[.,!?;:]"


def ws_tokens(col: Column) -> Column:
    """Whitespace tokens of trimmed text; empty OR whitespace-only text →
    empty array.  The guard is a regex (not ``trim(col) == ""``) because
    ``trim`` strips only spaces: a tab/newline-only doc would otherwise
    fall through to ``split``, where Java drops trailing empty strings
    (1 token) while other engines keep them (2) — the whitespace-only doc
    must count 0 tokens everywhere (ADVICE round 4)."""
    return F.when(col.rlike(r"^\s*$"), F.array().cast("array<string>")).otherwise(
        F.split(F.trim(col), r"\s+")
    )


def _lower_tokens(col: Column) -> Column:
    """Whitespace tokens of the lowercased text — the module's one lowered
    token stream.  ``lower()`` runs on the raw string: case mapping never
    turns whitespace into non-whitespace or back, so tokenizing after it
    gives the arrays of ``transform(ws_tokens(col), lower)`` without that
    higher-order lambda, which is CodegenFallback and interpreted per
    token (equality pinned by a property test)."""
    return ws_tokens(F.lower(col))


def _adjacent_pairs(toks: Column) -> Column:
    """Adjacent pairs of a token array, as structs with fields ``0`` (the
    earlier token) and ``1`` — the module's one pair build.

    ``arrays_zip`` over two slices is whole-stage codegen and mentions
    ``toks`` a constant number of times per row.  A ``zip_with`` lambda is
    interpreted per pair, and ``element_at(toks, i)`` inside a sequence
    lambda re-tokenizes the document for every i (a column referenced in
    a lambda is inlined per element: O(len²), measured 36 s at 500k docs
    against 4 s linear).  ``greatest(n − 1, 0)`` gives a document of
    fewer than 2 tokens zero pairs; so does NULL text."""
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    return F.arrays_zip(F.slice(toks, 1, m), F.slice(toks, 2, m))


def token_count(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(ws_tokens(col))


def bpe_token_count(col: Column) -> Column:
    """Regex-BPE-ish token count (letters / digits / symbol singles)."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_TOKEN_RE), 0))


def normalize_text(col: Column) -> Column:
    """casefold → strip punctuation → collapse whitespace."""
    lowered = F.lower(col)
    no_punct = F.regexp_replace(lowered, r"[^\w\s]", "")
    return F.trim(F.regexp_replace(no_punct, r"\s+", " "))


def _token_hits(col: Column, words: list[str]) -> Column:
    """Count whitespace tokens of ``col`` that exactly equal one of
    ``words`` (all lowercase ASCII literals), case-insensitively.

    r17 spelling (guide §4.1): one compiled-regex pass per document via
    ``regexp_count`` — whole-stage-codegen JVM — instead of the
    ``filter(toks, t -> lower(t).isin(...))`` higher-order lambda, which
    is CodegenFallback and interprets the lambda per token (profiled as
    the dominant per-task cost of corpus_report/text_metrics).  A token
    is a maximal non-whitespace run, so a hit is a list member bounded
    by start-or-whitespace on the left and whitespace-or-end on the
    right; the right boundary is a LOOKAHEAD so adjacent hits sharing
    one separator ("of to") both count.  Verified value-equal to the
    lambda spelling over the sf0.1 documents corpus and pinned by the
    consumers' DuckDB oracles."""
    alt = "|".join(words)
    return F.regexp_count(F.lower(col), F.lit(rf"(?:^|\s)(?:{alt})(?=\s|$)"))


def stopword_ratio(col: Column) -> Column:
    toks = ws_tokens(col)
    hits = _token_hits(col, EN_STOPWORDS)
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def punct_ratio(col: Column) -> Column:
    stripped = F.regexp_replace(col, PUNCT_CLASS, "")
    return F.when(
        F.length(col) > 0, (F.length(col) - F.length(stripped)) / F.length(col)
    ).otherwise(F.lit(0.0))


def mean_word_length(col: Column) -> Column:
    toks = ws_tokens(col)
    # total token chars == total non-whitespace chars (tokens are maximal
    # non-whitespace runs); one codegen'd regex strip instead of the
    # interpreted per-token aggregate lambda (r17, guide §4.1).  The old
    # lambda accumulated int lengths into a DOUBLE from 0.0 — exact for
    # any realistic document, as is double(int_total) here.
    total = F.length(F.regexp_replace(col, r"\s", "")).cast("double")
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Composite quality heuristic in [0,1]: rewards moderate length,
    presence of stopwords (English-like prose), penalizes punctuation
    spam.  Deterministic arithmetic — SQL-expressible for the oracle."""
    n_tok = token_count(col)
    length_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    sw = stopword_ratio(col)
    sw_score = F.least(sw * F.lit(4.0), F.lit(1.0))
    p_penalty = F.least(punct_ratio(col) * F.lit(2.0), F.lit(1.0))
    return F.round((length_score + sw_score) / F.lit(2.0) * (F.lit(1.0) - p_penalty * F.lit(0.5)), 6)


def lang_id(col: Column) -> Column:
    """Heuristic language ID: stopword-hit voting between English and a tiny
    Romance-language list; ties/none → 'unknown'.  FALLBACK ONLY (r15):
    the production operator is ``classify.lang_id_model`` — a trained
    char-trigram multinomial NB with the same all-JVM scale shape and a
    full value-hash oracle; this zero-model heuristic stays for
    expression contexts (``text_metrics`` keeps it as a cheap inline
    column) and as the no-dependency baseline."""
    # r17: regexp_count token-hit spelling (see _token_hits) — the two
    # interpreted filter-lambda passes were the per-task hotspot here
    en_hits = _token_hits(col, EN_STOPWORDS)
    romance = ["el", "la", "de", "que", "y", "le", "et", "un", "una", "les"]
    ro_hits = _token_hits(col, romance)
    return (
        F.when((en_hits > ro_hits) & (en_hits >= 2), F.lit("en"))
        .when((ro_hits > en_hits) & (ro_hits >= 2), F.lit("ro"))
        .otherwise(F.lit("unknown"))
    )


def fingerprint(col: Column) -> Column:
    """Order-sensitive document fingerprint: a rolling polynomial hash over
    whitespace tokens —

        fp = Σ_i  i · (131·len(tok_i) + ascii(tok_i[0]))   (mod 2³¹−1)

    Deterministic and engine-agnostic (same formula runs in the DuckDB
    oracle), unlike xxhash64 which is Spark-specific.  Cheap enough to be a
    pre-filter for dedup at 100 TB (map-only, no shuffle).  The modulus
    is ``dedup.POLY_MOD``, spelled here because dedup imports this module."""
    toks = ws_tokens(col)
    indexed = F.transform(
        toks, lambda t, i: (i + F.lit(1)).cast("bigint") * (F.lit(131) * F.length(t) + F.ascii(t))
    )
    return F.aggregate(
        indexed, F.lit(0).cast("bigint"), lambda acc, x: (acc + x) % F.lit(2147483647)
    )


def text_metrics(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One-pass per-document metric projection."""
    c = ident_col(text_col)
    return df.select(
        ident_col(id_col),
        token_count(c).alias("n_tokens"),
        bpe_token_count(c).alias("n_bpe_tokens"),
        F.round(stopword_ratio(c), 6).alias("stopword_ratio"),
        F.round(punct_ratio(c), 6).alias("punct_ratio"),
        F.round(mean_word_length(c), 6).alias("mean_word_len"),
        quality_score(c).alias("quality"),
        lang_id(c).alias("lang_pred"),
        fingerprint(c).alias("fingerprint"),
    )


def repetition_metrics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Repeated-n-gram quality signals (the Gopher-rules family): the
    fraction of 2-gram and 3-gram occurrences that are duplicates of an
    earlier occurrence in the same document.  High values mark boilerplate
    and degenerate repetition.  Map-only: array build + array_distinct per
    row, no shuffle — linear at 100 TB like the rest of the metric pass."""
    from csv_etl_spark.operators.cleaning import string_shingles

    c = ident_col(text_col)

    def dup_frac(n: int) -> Column:
        grams = string_shingles(c, n)
        total = F.size(grams)
        dups = total - F.size(F.array_distinct(grams))
        return F.when(total > 0, F.round(dups / total, 6)).otherwise(F.lit(0.0))

    return df.select(
        ident_col(id_col),
        F.size(ws_tokens(c)).alias("n_tokens"),
        dup_frac(2).alias("dup_2gram_frac"),
        dup_frac(3).alias("dup_3gram_frac"),
    )


def _top_k(counts: DataFrame, key: str, k: int) -> DataFrame:
    """``(rank, key, n)``: the ``k`` rows of ``counts`` ``(key, n)`` with
    the highest n, ties broken key-asc — the corpus rank rule.
    ``orderBy(...).limit(k)`` compiles to TakeOrderedAndProject: each
    partition keeps its local top-k and the driver merges k rows per
    partition, so the full vocabulary (billions of distinct tokens on a
    web corpus) never funnels through one task.  ``rank`` is taken AFTER
    the limit, so the only window in the plan runs over exactly k rows."""
    order = (F.col("n").desc(), F.col(key).asc())
    return (
        counts.orderBy(*order)
        .limit(k)
        .withColumn("rank", F.row_number().over(Window.orderBy(*order)))
        .select("rank", key, "n")
    )


def _doc_top_k(scored: DataFrame, id_col: str, k: int) -> DataFrame:
    """``scored`` ``(id_col, token, ..., score)`` cut to each document's
    ``k`` best terms by (score desc, token asc), with their ``rank`` —
    the per-document rank rule.  The window partitions on the
    high-cardinality doc id."""
    w = Window.partitionBy(ident_col(id_col)).orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _every_doc(
    df: DataFrame, id_col: str, agg: DataFrame, zeros: dict[str, Column]
) -> DataFrame:
    """``(id_col, *zeros)`` for EVERY document of ``df``: ``agg`` holds the
    per-document aggregates of the exploded token stream, so a document
    with no tokens has no row there.  The left join onto ``df``'s ids
    brings it back, and each column in ``zeros`` (name → its zero, in
    output order) is coalesced to that zero."""
    return (
        df.select(ident_col(id_col))
        .join(agg, id_col, "left")
        .select(
            ident_col(id_col),
            *[F.coalesce(F.col(c), z).alias(c) for c, z in zeros.items()],
        )
    )


def top_tokens(df: DataFrame, k: int = 100, text_col: str = "text") -> DataFrame:
    """Corpus-level top-k lowercased token frequencies — the vocabulary/
    stopword-discovery pass of a training-data pipeline.  Returns
    ``(rank, token, n)``.

    explode → groupBy(token) count (map-side partial aggregation soaks up
    Zipf skew: the hot token's partials merge, its rows never colocate) →
    the TakeOrdered top-k of ``_top_k`` (count desc, token asc)."""
    toks = df.select(F.explode(_lower_tokens(ident_col(text_col))).alias("token"))
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    return _top_k(counts, "token", k)


def length_histogram(
    df: DataFrame, text_col: str = "text", bin_width: int = 16
) -> DataFrame:
    """Corpus token-length histogram — the length-distribution pass used
    to pick truncation budgets and length gates before training.  One row
    per ``bin_width``-token bin: ``(bin_lo, bin_hi, n_docs,
    total_tokens)``.

    Map-only token count per doc, then a groupBy on the bin id — a few
    hundred groups regardless of corpus size, with map-side partials
    doing virtually all the work, so the final reduce moves ~n_bins rows.
    Low-cardinality GROUPING is fine at scale (unlike low-cardinality
    window PARTITIONING): partials shrink the shuffle to one row per
    (mapper, bin)."""
    n = token_count(ident_col(text_col))
    b = F.floor(n / F.lit(bin_width)).cast("bigint")
    return (
        df.select(n.alias("_n"), b.alias("_bin"))
        .groupBy("_bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("_n").cast("bigint").alias("total_tokens"),
        )
        .select(
            (F.col("_bin") * bin_width).alias("bin_lo"),
            (F.col("_bin") * bin_width + bin_width - 1).alias("bin_hi"),
            "n_docs",
            "total_tokens",
        )
    )


def tokens_to_ids(
    df: DataFrame,
    vocab_size: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int | None = 1 << 20,
) -> DataFrame:
    """Encode each document as integer token ids from a frequency-ranked
    vocabulary built over the SAME corpus — the id-mapping step between
    text curation and sequence packing.  Token id = frequency rank
    (1 = most frequent, ties broken token-asc, exactly ``top_tokens``'s
    ordering); out-of-vocabulary tokens map to 0.

    Returns ``(id_col, token_ids, n_tokens, n_oov)`` with ``token_ids``
    in original token order.

    Scale shape: the vocabulary is ``top_tokens`` (partial-agg counts +
    TakeOrderedAndProject — never a full-vocab single-partition sort) and
    is ≤ ``vocab_size`` rows, so the token→id join BROADCASTS it;
    re-assembly is one groupBy on the doc id (map-side partials,
    high-cardinality key).  The explode temporarily multiplies rows by
    tokens-per-doc, the same cost every shingle/top-token pass already
    pays.

    ``max_tokens`` (default 2^20 ≈ 1M) bounds the per-doc reassembly
    buffer: the final ``collect_list`` builds ONE array per doc inside a
    single aggregation buffer, so a pathological multi-GB document would
    otherwise become one executor's OOM.  Tokens past the cap are
    truncated — the C4-style recipe (giant docs are boilerplate/garbage
    dumps; dropping their tail loses nothing a training pipeline wants).
    Inert for any normal corpus; pass ``None`` to disable."""
    vocab = top_tokens(df, k=vocab_size, text_col=text_col)
    toks = _lower_tokens(ident_col(text_col))
    if max_tokens is not None:
        toks = F.slice(toks, 1, max_tokens)
    exploded = df.select(
        ident_col(id_col),
        F.posexplode(toks).alias("_pos", "_tok"),
    )
    joined = exploded.join(
        F.broadcast(vocab.select(F.col("token").alias("_tok"), F.col("rank"))),
        "_tok",
        "left",
    ).select(
        ident_col(id_col),
        "_pos",
        F.coalesce(F.col("rank"), F.lit(0)).cast("bigint").alias("_id"),
    )
    encoded = joined.groupBy(ident_col(id_col)).agg(
        # (pos, id) structs sorted by pos, then the id field of each;
        # sort_array, not array_sort, whose default comparator is a lambda
        F.sort_array(F.collect_list(F.struct("_pos", "_id")))
        .getField("_id")
        .alias("token_ids"),
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("_id") == 0, 1).otherwise(0)).cast("bigint").alias("n_oov"),
    )
    return _every_doc(df, id_col, encoded, {
        "token_ids": F.array().cast("array<bigint>"),
        "n_tokens": F.lit(0).cast("bigint"),
        "n_oov": F.lit(0).cast("bigint"),
    })


def unigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Language-model quality proxy (the CCNet/perplexity-filter shape,
    with a unigram model estimated from the corpus itself): each doc is
    scored by the mean natural-log probability of its lowercased tokens
    under the corpus unigram distribution.  Gibberish and rare-token soup
    score far below typical prose; filtering on a score quantile is the
    classic LM quality gate.  Returns ``(id_col, n_tokens, avg_logprob)``
    — higher (less negative) = more typical; empty docs score 0.0.

    Scale shape: one token groupBy (map-side partials soak the Zipf head),
    a single-row total aggregated then broadcast (one-row nested-loop —
    constant cost), and a token-keyed join of the exploded corpus against
    the count table — AQE's skew-join splits the hot-token side.  The
    corpus is deliberately scanned twice (count pass + score pass): at
    100 TB, re-reading columnar parquet beats persisting the exploded
    token stream (~10x the source bytes) to disk; the one-pass window
    spelling (``count(*) over (partition by tok)``) would land the whole
    Zipf head on single reducers — the skew anti-pattern.  The mean is
    rounded to 6 decimals so libm ulp differences and addition order
    cannot leak into the result."""
    exploded = df.select(
        ident_col(id_col), F.explode(_lower_tokens(ident_col(text_col))).alias("_tok")
    )
    counts = exploded.groupBy("_tok").agg(F.count(F.lit(1)).alias("_n"))
    total = counts.agg(F.sum("_n").cast("double").alias("_total"))
    scored = (
        exploded.join(counts, "_tok")
        .crossJoin(F.broadcast(total))
        .select(
            ident_col(id_col),
            F.log(F.col("_n") / F.col("_total")).alias("_lp"),
        )
    )
    agg = scored.groupBy(ident_col(id_col)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.round(F.avg("_lp"), 6).alias("avg_logprob"),
    )
    return _every_doc(df, id_col, agg, {
        "n_tokens": F.lit(0).cast("bigint"), "avg_logprob": F.lit(0.0)
    })


def bigram_logprob(
    df: DataFrame,
    k_smooth: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bigram-LM quality score — the next rung above ``unigram_logprob``
    on the CCNet/perplexity-filter ladder: each document is scored by the
    mean natural-log probability of its token TRANSITIONS under the
    corpus bigram model with add-k smoothing,

        P(w | p) = (c(p,w) + k) / (c(p) + k·V),

    where c(p,w)/c(p) are corpus transition/origin counts and V is the
    transition-target vocabulary size.  Word-salad that passes a unigram
    gate (common words, nonsense order) scores far below prose here.
    Returns ``(id_col, n_transitions, avg_logprob)``; docs with < 2
    tokens score 0.0 with 0 transitions.

    Scale shape mirrors ``unigram_logprob``: pair-keyed and origin-keyed
    count groupBys (map-side partials soak the Zipf head), a scalar V
    broadcast, and keyed joins of the transition stream against both
    count tables (AQE skew-splits the hot pairs).  The corpus is
    deliberately re-scanned per consumer rather than persisting the
    exploded transition stream (~10x source bytes) — the same documented
    trade as the unigram scorer.  The pairs are ``_adjacent_pairs``."""
    pairs = _adjacent_pairs(_lower_tokens(ident_col(text_col)))
    trans = df.select(ident_col(id_col), F.explode(pairs).alias("_pr")).select(
        ident_col(id_col), F.col("_pr")["0"].alias("prev"), F.col("_pr")["1"].alias("word")
    )
    big = trans.groupBy("prev", "word").agg(F.count(F.lit(1)).alias("_nb"))
    uni = trans.groupBy("prev").agg(F.count(F.lit(1)).alias("_np"))
    vocab = big.agg(F.count_distinct(F.col("word")).cast("double").alias("_v"))
    k = F.lit(float(k_smooth))
    scored = (
        trans.join(big, ["prev", "word"])
        .join(uni, "prev")
        .crossJoin(F.broadcast(vocab))
        .select(
            ident_col(id_col),
            F.log((F.col("_nb") + k) / (F.col("_np") + k * F.col("_v"))).alias("_lp"),
        )
    )
    agg = scored.groupBy(ident_col(id_col)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
        F.round(F.avg("_lp"), 6).alias("avg_logprob"),
    )
    return _every_doc(df, id_col, agg, {
        "n_transitions": F.lit(0).cast("bigint"), "avg_logprob": F.lit(0.0)
    })


def top_token_pairs(df: DataFrame, k: int = 100, text_col: str = "text") -> DataFrame:
    """Corpus top-k ADJACENT lowercased token-pair frequencies — the first
    merge-step statistic of BPE-style vocabulary induction (count all
    adjacent pairs, merge the most frequent), and the bigram layer of
    n-gram LM estimation.  Returns ``(rank, pair, n)`` like
    ``top_tokens``, with ``pair`` the two tokens joined by one space.

    Same scale shape as ``top_tokens``: the pair build
    (``_adjacent_pairs``) is map-only and linear in the doc — no
    self-join — the count groupBy does its work map-side (Zipf head
    merges in partials), and the top-k is ``_top_k``'s TakeOrdered."""
    pairs = _adjacent_pairs(_lower_tokens(ident_col(text_col)))
    counts = (
        df.select(F.explode(pairs).alias("_p"))
        .select(F.concat(F.col("_p")["0"], F.lit(" "), F.col("_p")["1"]).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return _top_k(counts, "pair", k)


def _doc_term_stats(
    df: DataFrame, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``(tf, dfreq, n)`` of the term-weighting operators: the (doc,
    lowercased token) counts ``(id_col, token, tf)``, the document
    frequencies ``(token, _df)`` and the one-row corpus document count
    ``_n`` (every document, empty ones included).

    tf feeds the df aggregation, the score join and (for BM25) the
    document lengths; Catalyst does not reuse the aggregate across those
    branches (no ReusedExchange in the measured plan), so without a
    persist the tokenize+explode+groupBy would run once per consumer.
    It is persisted under one tag for both operators: one frame serves
    ``tfidf_top_terms`` and ``bm25_top_terms`` in a session."""
    pairs = df.select(
        ident_col(id_col), F.explode(_lower_tokens(ident_col(text_col))).alias("token")
    )
    tf = pairs.groupBy(ident_col(id_col), "token").agg(F.count(F.lit(1)).alias("tf"))
    tf = _TF_CACHE.get_or_persist(tf, "doc_token_tf")
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("_df"))
    n = df.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    return tf, dfreq, n


def tfidf_top_terms(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-k TF-IDF terms — the classic sparse document
    representation (keyword extraction, BM25-ish retrieval features,
    topic drift monitoring over a training corpus).  ``score = tf ·
    ln(N/df)`` with N = corpus doc count, df = docs containing the term.
    Returns ``(id_col, token, tf, score, rank)``.

    Scale shape: the (doc, token) tf counts and the token df groupBy of
    ``_doc_term_stats`` (map-side partials soak the Zipf head), a
    token-keyed join carrying idf back (AQE skew-splits the hot tokens —
    same discipline as ``unigram_logprob``), and ``_doc_top_k``'s window
    on the HIGH-cardinality doc id.  N is a scalar agg broadcast back.
    Engine-portable: both engines evaluate ln on the identical double,
    and ranking orders by the ROUNDED score with a token tiebreak so
    round-boundary ties break identically."""
    tf, dfreq, n = _doc_term_stats(df, text_col, id_col)
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .select(
            ident_col(id_col),
            F.col("token"),
            F.col("tf").cast("bigint").alias("tf"),
            F.round(
                F.col("tf") * F.log(F.col("_n") / F.col("_df")), 6
            ).alias("score"),
        )
    )
    return _doc_top_k(scored, id_col, k)


def bm25_top_terms(
    df: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-k Okapi BM25 term weights — the retrieval-grade
    upgrade of ``tfidf_top_terms`` (same sparse representation, but with
    the saturating tf and document-length normalization that make BM25
    the standard lexical ranking function):

        idf(t)  = ln(1 + (N − df + 0.5) / (df + 0.5))
        w(d,t)  = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    with dl = doc token count and avgdl = total corpus tokens / N (all
    docs, including empty ones — a pure-scalar convention an external
    engine reproduces exactly).  Returns ``(id_col, token, tf, score,
    rank)`` like the TF-IDF operator.

    Scale shape is tfidf_top_terms' with ONE extra doc-keyed piece: dl
    comes from summing the (doc, token) tf partials (no re-tokenize), the
    (N, avgdl) pair is a single-row scalar agg broadcast back, and the
    top-k window partitions on the high-cardinality doc id.  The tf
    table is ``_doc_term_stats``' persisted one (it feeds df, dl, and the
    score join).  Engine-portable: identical doubles into ln/division on
    both engines, scores rounded to 6, token tiebreak."""
    tf, dfreq, n_row = _doc_term_stats(df, text_col, id_col)
    dl = tf.groupBy(ident_col(id_col)).agg(F.sum("tf").cast("double").alias("_dl"))
    # total tokens is sum(tf) over the already-persisted tf — no second
    # tokenize of the corpus
    tot_row = tf.agg(
        F.coalesce(F.sum("tf"), F.lit(0)).cast("double").alias("_total")
    )
    scalars = n_row.crossJoin(tot_row).select(
        "_n", (F.col("_total") / F.col("_n")).alias("_avgdl")
    )
    lk1, lb = F.lit(float(k1)), F.lit(float(b))
    idf = F.log(
        F.lit(1.0) + (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
    )
    tf_d = F.col("tf").cast("double")
    norm = tf_d * (lk1 + 1.0) / (
        tf_d + lk1 * (F.lit(1.0) - lb + lb * F.col("_dl") / F.col("_avgdl"))
    )
    scored = (
        tf.join(dfreq, "token")
        .join(dl, id_col)
        .crossJoin(F.broadcast(scalars))
        .select(
            ident_col(id_col),
            F.col("token"),
            F.col("tf").cast("bigint").alias("tf"),
            F.round(idf * norm, 6).alias("score"),
        )
    )
    return _doc_top_k(scored, id_col, k)


def lm_score_buckets(
    df: DataFrame,
    by: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style LM-quality bucketing: score every document with the
    corpus unigram LM (``unigram_logprob``), then split each ``by`` group
    (CCNet buckets per language; per source here) into head / middle /
    tail at the group's score terciles — the standard corpus partition
    for quality-aware sampling ("train mostly on head, some middle, keep
    a sliver of tail").  Returns ``(id_col, by, avg_logprob, bucket)``.

    Scale shape: the scorer's own shape (token partials + keyed join)
    plus ONE tiny boundary aggregate — n_groups rows, broadcast back for
    a map-only classify; no per-group window over the data (which would
    single-reduce each group).  The terciles are exact interpolated
    percentiles (the DuckDB oracle's ``quantile_cont``).  Boundaries and
    scores are pre-rounded to 6 decimals so bucket membership compares
    identical doubles on every engine."""
    scored = unigram_logprob(df, text_col=text_col, id_col=id_col).join(
        df.select(ident_col(id_col), ident_col(by)), id_col
    )
    # scored feeds BOTH the boundary aggregate and the classify join, and
    # each mention would re-run the whole unigram scorer (Catalyst does
    # not reuse the aggregate across branches) — persist the doc-sized
    # (id, group, score) frame, same session-cache discipline as the
    # tf/shingle projections.
    scored = _TF_CACHE.get_or_persist(scored, "lm_buckets_scored")
    pct = F.percentile(
        F.col("avg_logprob"), F.array(F.lit(1.0 / 3.0), F.lit(2.0 / 3.0))
    )
    bounds = scored.groupBy(ident_col(by)).agg(
        F.round(F.element_at(pct, 1), 6).alias("_b_lo"),
        F.round(F.element_at(pct, 2), 6).alias("_b_hi"),
    )
    bucket = (
        F.when(F.col("avg_logprob") <= F.col("_b_lo"), F.lit("tail"))
        .when(F.col("avg_logprob") <= F.col("_b_hi"), F.lit("middle"))
        .otherwise(F.lit("head"))
    )
    return (
        scored.join(F.broadcast(bounds), by)
        .select(
            ident_col(id_col),
            ident_col(by),
            F.col("avg_logprob"),
            bucket.alias("bucket"),
        )
    )


# Gopher rule 8's required-stopword set (Rae et al. 2021, table A1: "must
# contain at least 2 of ..."), shared verbatim with the DuckDB oracle.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality(
    df: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stopword_hits: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher document-quality gate (Rae et al. 2021 §A1.1, the public
    heuristic rule set most LLM corpora start from): a document is kept iff

    * word count in [``min_words``, ``max_words``];
    * mean word length in [``min_mean_word_len``, ``max_mean_word_len``];
    * symbol-to-word ratio (``#`` and ``...``/``…`` marks per word)
      ≤ ``max_symbol_ratio``;
    * ≤ ``max_bullet_frac`` of non-empty lines start with a bullet;
    * ≤ ``max_ellipsis_frac`` of non-empty lines end with an ellipsis;
    * ≥ ``min_alpha_frac`` of words contain an alphabetic character;
    * ≥ ``min_stopword_hits`` DISTINCT required stopwords present.

    Returns one row per doc: every measured metric (so a downstream pass
    can re-gate with different thresholds without recomputing) plus the
    composite ``keep``.  Map-only — split/filter/aggregate over arrays,
    all JVM-side, no shuffle, linear in input splits at 100 TB.  Every
    expression lives in the engine-portable subset (ratios compare on the
    RAW double in both engines; rounding is display-only)."""
    c = ident_col(text_col)
    toks = ws_tokens(c)
    # greatest(size, 0): NULL text yields NULL toks, whose size() is NULL
    # under ANSI (-1 with the legacy size-of-null) — the gate must report
    # 0 words (and fail min_words) either way
    n_words = F.greatest(F.size(toks), F.lit(0))
    nw = F.when(n_words > 0, n_words.cast("double")).otherwise(F.lit(None))
    mean_len = mean_word_length(c)
    # non-overlapping scans in both Java regex and RE2: "...." counts one
    n_symbols = F.regexp_count(c, F.lit("#")) + F.regexp_count(
        c, F.lit(r"(\.\.\.|…)")
    )
    symbol_ratio = F.coalesce(n_symbols / nw, F.lit(0.0))
    lines = F.filter(F.split(c, "\n"), lambda ln: F.trim(ln) != "")
    n_lines = F.size(lines)
    nl = F.when(n_lines > 0, n_lines.cast("double")).otherwise(F.lit(None))
    bullet_frac = F.coalesce(
        F.size(F.filter(lines, lambda ln: F.trim(ln).rlike(r"^[-*•]"))) / nl,
        F.lit(0.0),
    )
    ellipsis_frac = F.coalesce(
        F.size(F.filter(lines, lambda ln: F.trim(ln).rlike(r"(\.\.\.|…)$"))) / nl,
        F.lit(0.0),
    )
    alpha_frac = F.coalesce(
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))) / nw, F.lit(0.0)
    )
    sw_hits = F.greatest(
        F.size(
            F.array_intersect(
                _lower_tokens(c), F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
            )
        ),
        F.lit(0),
    )
    keep = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_len >= min_mean_word_len)
        & (mean_len <= max_mean_word_len)
        & (symbol_ratio <= max_symbol_ratio)
        & (bullet_frac <= max_bullet_frac)
        & (ellipsis_frac <= max_ellipsis_frac)
        & (alpha_frac >= min_alpha_frac)
        & (sw_hits >= min_stopword_hits)
    )
    return df.select(
        ident_col(id_col),
        n_words.cast("bigint").alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(bullet_frac, 6).alias("bullet_frac"),
        F.round(ellipsis_frac, 6).alias("ellipsis_frac"),
        F.round(alpha_frac, 6).alias("alpha_frac"),
        sw_hits.cast("bigint").alias("n_stopword_hits"),
        keep.alias("keep"),
    )


def length_outliers(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 3.0,
    exact: bool = True,
) -> DataFrame:
    """Robust length-outlier gate: flag documents whose token count sits
    more than ``k`` MADs (median absolute deviations) from the corpus
    median — the statistical cousin of a fixed length gate that
    self-calibrates to the corpus instead of hard-coding thresholds.
    Returns ``(id_col, n_tokens, deviation, is_outlier)`` with
    ``deviation = |n - median| / MAD`` (0.0 when MAD is 0).

    Scale shape: two scalar aggregations (exact distributed percentile —
    the same `percentile` == `quantile_cont` parity the percentile query
    proves) whose one-row results broadcast back via nested-loop joins;
    the flagging pass is map-only.  Three passes over a one-column
    projection — at 100 TB each is a column-pruned scan, the price of an
    EXACT median.

    ``exact=False`` swaps in ``approx_percentile`` (t-digest sketch,
    accuracy 1/10000): the median/MAD estimates then come from one-pass
    mergeable sketches — the right trade at 100 TB where a ±0.01%
    quantile error moves no gate decision.  The default stays exact
    because the DuckDB oracle's ``quantile_cont`` matches only the exact
    spelling (a sketch is engine-specific by nature)."""
    n = token_count(ident_col(text_col))
    d = df.select(ident_col(id_col), n.alias("n_tokens"))
    pct = "percentile({}, 0.5)" if exact else "approx_percentile({}, 0.5, 10000)"
    med = d.agg(
        F.expr(pct.format("n_tokens")).cast("double").alias("_med")
    )
    with_med = d.crossJoin(F.broadcast(med))
    mad = with_med.agg(
        F.expr(pct.format("abs(n_tokens - _med)")).cast("double").alias("_mad")
    )
    dev = F.when(
        F.col("_mad") > 0, F.abs(F.col("n_tokens") - F.col("_med")) / F.col("_mad")
    ).otherwise(F.lit(0.0))
    return (
        with_med.crossJoin(F.broadcast(mad))
        .select(
            ident_col(id_col),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.round(dev, 6).alias("deviation"),
            (dev > k).alias("is_outlier"),
        )
    )


# ---------------------------------------------------------------------------
# Iterative BPE-style phrase-merge training
# ---------------------------------------------------------------------------

# Unit-separator control char (U+001F) joins token streams during merge
# training; whitespace tokenization can never produce it from normal text,
# and any adversarial occurrence inside a token only mis-merges that one
# pair, never crashes (documented input assumption).
_MERGE_SEP = "\x1f"
_MERGE_BND = _MERGE_SEP + _MERGE_SEP


def _merge_stream(toks: Column) -> Column:
    """The merge stream of a token array: tokens joined on DOUBLED
    separators and wrapped in one extra separator pair per end, so every
    token sits between two SEPs."""
    return F.concat(F.lit(_MERGE_BND), F.concat_ws(_MERGE_BND, toks), F.lit(_MERGE_BND))


def _merge(stream: Column, pair: str, joiner: str) -> Column:
    """``stream`` with the learned merge ``pair`` (``"a b"``) applied —
    the module's one merge pass, shared by the trainer's rounds, its
    memo replay and ``apply_phrase_merges``.  One literal JVM
    ``replace``: ``SEP a SEP·SEP b SEP → SEP a+joiner+b SEP`` consumes one
    boundary SEP per side and restores it, which keeps the stream's
    invariant for the next merge AND merges back-to-back occurrences
    ("a b a b") in one left-to-right pass — the greedy non-overlapping
    BPE order.  Plain (non-regex) replace: no token needs quoting, and
    DuckDB's ``replace`` has the same semantics."""
    a, b = pair.split(" ", 1)
    return F.replace(
        stream,
        F.lit(_MERGE_SEP + a + _MERGE_BND + b + _MERGE_SEP),
        F.lit(_MERGE_SEP + a + joiner + b + _MERGE_SEP),
    )


def phrase_merges(
    df,
    k: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    joiner: str = "_",
):
    """Iterative BPE-style merge TRAINING at the word level (phrase/
    multiword-unit induction — the loop whose single first step is
    ``top_token_pairs``): repeat k times {count adjacent lowercased token
    pairs → take the most frequent (deterministic pair tiebreak) → merge
    every non-overlapping occurrence left-to-right, greedily,
    corpus-wide}.  Each learned merge changes the statistics the next
    round sees, which is what makes BPE BPE and puts this operator
    outside single-pass SQL — it is pytest-verified against a serial
    reference implementation instead of a DuckDB oracle (same
    weaker-check class as k-means).  Returns the learned merge table
    ``(rank, pair, n)``; stops early when no pair reaches ``min_count``.

    Scale shape per round: one map-only pair build, one count groupBy
    with map-side partials, ONE driver row (TakeOrdered limit 1), and a
    map-only merge pass.  State between rounds is localCheckpoint-ed,
    the same lineage-truncation discipline as the CC resolver: persist
    alone would keep round k's plan containing rounds 1..k-1 until
    analysis overflows.  Driver traffic: k single rows.

    Per-task spelling: the state rides as the ``_merge_stream``, each
    round's merge is one ``_merge`` literal replace, and the pair build
    is ``_adjacent_pairs`` — all whole-stage codegen, no interpreted
    lambda (an HOF lambda cost 2–5.6 s task-time per round over a 1.9 MB
    state, profiled r17)."""
    spark = df.sparkSession
    # lazy checkpoints: materialization happens inside the round's count
    # job (first consumer) and is REUSED by the merge pass — one data pass
    # per round instead of two, same lineage truncation
    state0 = df.select(_merge_stream(_lower_tokens(ident_col(text_col))).alias("_s"))

    # r17: session-bounded merge-table memo (the _CUMSUM_CACHE /
    # _TF_CACHE discipline, invalidated between bench passes).  BPE is
    # prefix-stable — merge i depends only on merges 1..i-1 — so a
    # table trained at k'≥k over the same tokenized input answers any
    # smaller k verbatim, and a shorter cached table is a valid restart
    # point: replay its merges (the exact per-round merge pass) and
    # continue counting from rank len+1.  Within one bench pass,
    # bpe_merges (k=8) trains once and apply_merges' k=4 trainer re-uses
    # the prefix with ZERO jobs — while the key (state0's plan) is the same.
    key = _MERGE_MEMO.key_for(state0, int(min_count), joiner)
    cached = _MERGE_MEMO.get(key)
    merges: list[tuple[int, str, int]] = []
    start_rank = 1
    if cached is not None:
        mlist, exhausted = cached
        if exhausted or len(mlist) >= k:
            return local_values_frame(
                spark, list(mlist[:k]), "rank int, pair string, n bigint"
            )
        merges = list(mlist)
        start_rank = len(mlist) + 1
        for _, pair, _n in mlist:
            state0 = state0.select(_merge(F.col("_s"), pair, joiner).alias("_s"))
    state = state0.localCheckpoint(eager=False)

    exhausted = False
    for rank in range(start_rank, k + 1):
        full = F.split(F.col("_s"), _MERGE_BND)
        # wrapped stream splits to ['', t1..tn, '']; drop the boundary
        # empties.  Empty docs ("" between the wraps) reduce to one
        # empty-string pseudo-token → n = 1 → zero pairs, same as before.
        ts = F.slice(full, 2, F.size(full) - 2)
        top = (
            state.select(F.explode(_adjacent_pairs(ts)).alias("_p"))
            .select(
                F.concat(
                    F.col("_p")["0"], F.lit(" "), F.col("_p")["1"]
                ).alias("pair")
            )
            .groupBy("pair")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("pair").asc())
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < min_count:
            exhausted = True
            break
        pair, count = top[0]["pair"], int(top[0]["n"])
        merges.append((rank, pair, count))
        state = state.select(
            _merge(F.col("_s"), pair, joiner).alias("_s")
        ).localCheckpoint(eager=False)

    _MERGE_MEMO.put(key, (tuple(merges), exhausted))
    return local_values_frame(spark, merges, "rank int, pair string, n bigint")


def apply_phrase_merges(
    df,
    merges,
    text_col: str = "text",
    id_col: str = "doc_id",
    joiner: str = "_",
):
    """Apply a LEARNED merge table (the output of ``phrase_merges``) to a
    corpus — the other half of the tokenizer-training loop: train once,
    then re-tokenize every document (lowercased, as the trainer saw it)
    with the k merges in rank order, each one a greedy left-to-right
    non-overlapping corpus-wide replacement (the trainer's ``_merge``,
    pinned by ``test_apply_phrase_merges_matches_serial``).

    ``merges`` is the trainer's DataFrame ``(rank, pair, n)`` or a plain
    rank-ordered list of ``"a b"`` pair strings.  A DataFrame is collected
    — MODEL-sized (k rows, the merge table IS the model), the same
    bounded-driver-pull class as the k-means centroids.

    Unlike the trainer, application of a FIXED merge table is one
    deterministic map-only pass — no iteration-dependent statistics — so
    this half CAN carry a DuckDB oracle (the ``apply_merges`` contract
    query).  Plan: zero shuffles, k chained ``_merge`` literal replaces
    over the ``_merge_stream``.  Returns ``(id_col, merged_text,
    n_tokens)``; empty / whitespace-only docs → ("", 0)."""
    if isinstance(merges, DataFrame):
        merges = [
            r["pair"] for r in merges.orderBy("rank").collect()  # model-sized
        ]
    toks = _lower_tokens(ident_col(text_col))
    empty = F.size(toks) == 0
    stream = _merge_stream(toks)
    for pair in merges:
        stream = _merge(stream, pair, joiner)
    inner = F.regexp_replace(stream, f"^{_MERGE_BND}|{_MERGE_BND}$", "")
    out_toks = F.split(inner, _MERGE_BND)
    merged_text = F.when(empty, F.lit("")).otherwise(
        F.array_join(out_toks, " ")
    )
    n_tokens = F.when(empty, F.lit(0)).otherwise(F.size(out_toks))
    return df.select(
        ident_col(id_col),
        merged_text.alias("merged_text"),
        n_tokens.cast("bigint").alias("n_tokens"),
    )


def dsir_importance(
    df: DataFrame,
    target: DataFrame,
    k_smooth: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling" — the public recipe:
    score every raw document by how target-like it is under cheap n-gram
    LMs, then resample proportionally):

        log_importance(d) = Σ_tok  ln P_target(tok) − ln P_corpus(tok)

    with add-k smoothed unigram models estimated from the ``target`` set
    and from ``df`` itself, sharing the CORPUS vocabulary size V in both
    denominators so target-OOV tokens contribute a well-defined penalty
    ln(k/(N_t + kV)) instead of −inf.  Returns ``(id_col, n_tokens,
    log_importance)`` for every corpus doc (0 tokens → 0.0).

    Scale shape: two token-count groupBys (corpus + target — the target
    is benchmark-sized, its counts BROADCAST into the scoring join), one
    scalar row (N_c, N_t, V) broadcast, and one token-keyed join of the
    exploded corpus against its own counts (AQE skew-splits the Zipf
    head) — unigram_logprob's plan plus one broadcast lookup.  Sum is
    rounded to 6 decimals: libm ln() may differ in the last ulp between
    engines, and the ROUNDED per-token ratios are summed via exact
    decimal so partial-aggregation order cannot leak into the hash."""
    toks = _lower_tokens(ident_col(text_col))
    exploded = df.select(ident_col(id_col), F.explode(toks).alias("_tok"))
    t_exploded = target.select(F.explode(toks).alias("_tok"))

    c_counts = exploded.groupBy("_tok").agg(F.count(F.lit(1)).alias("_nc"))
    # c_counts feeds the scalar agg AND the scoring join (vocab-sized) —
    # multi-consumer persist rule; the exploded token stream itself stays
    # unpersisted (the documented unigram trade: re-scanning columnar
    # parquet beats spilling a ~10x token stream)
    c_counts = _TF_CACHE.get_or_persist(c_counts, "dsir_corpus_counts")
    t_counts = t_exploded.groupBy("_tok").agg(F.count(F.lit(1)).alias("_nt"))
    # t_counts feeds the scalar agg AND the vocab ratio table — without
    # the persist the target corpus is exploded and counted twice (two
    # identical Generate→agg subtrees in the r17 before-plan)
    t_counts = _TF_CACHE.get_or_persist(t_counts, "dsir_target_counts")
    scalars = (
        c_counts.agg(
            F.sum("_nc").cast("double").alias("_totc"),
            F.count(F.lit(1)).cast("double").alias("_v"),
        )
        # coalesce like the oracle: an empty/whitespace-only target must
        # yield real OOV penalties (tott = 0), not NULL-poisoned scores
        .crossJoin(
            t_counts.agg(
                F.coalesce(F.sum("_nt"), F.lit(0)).cast("double").alias("_tott")
            )
        )
    )
    k = F.lit(float(k_smooth))
    # per-token log ratio, rounded to 6 BEFORE the sum (cross-engine ulp
    # discipline), summed as exact decimal micro-units
    ratio = F.round(
        F.log(
            (F.coalesce(F.col("_nt"), F.lit(0)) + k)
            / (F.col("_tott") + k * F.col("_v"))
        )
        - F.log((F.col("_nc") + k) / (F.col("_totc") + k * F.col("_v"))),
        6,
    )
    # r17 (guide §2.3, compute on the small side): the log ratio depends
    # only on token IDENTITY, so it is evaluated once per VOCAB entry on
    # the broadcast side — not once per token OCCURRENCE on the stream
    # side as before (two libm log() calls plus the full double chain per
    # corpus token).  Same expression over the same values → bit-equal
    # _r6; the stream join becomes a pure hash-probe gather of the
    # precomputed decimal.
    vocab = (
        c_counts.join(F.broadcast(t_counts), "_tok", "left")
        .crossJoin(F.broadcast(scalars))
        .select(
            "_tok",
            (ratio * F.lit(1_000_000)).cast("decimal(38,0)").alias("_r6"),
        )
    )
    scored = exploded.join(F.broadcast(vocab), "_tok").select(
        ident_col(id_col), "_r6"
    )
    agg = scored.groupBy(ident_col(id_col)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.round(F.sum("_r6").cast("double") / F.lit(1_000_000.0), 6).alias(
            "log_importance"
        ),
    )
    return _every_doc(df, id_col, agg, {
        "n_tokens": F.lit(0).cast("bigint"), "log_importance": F.lit(0.0)
    })


def corpus_report(
    df: DataFrame,
    by: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group corpus summary — the dataset-card numbers in ONE call:
    ``(by, n_docs, n_tokens, mean_quality, english_frac, dup_frac)``,
    where ``dup_frac`` is the exact-normalized-duplicate fraction
    (1 − distinct normalized texts / docs).  This is the composition a
    release audit or a mixing decision starts from — the same metrics the
    curation pipeline gates on, aggregated instead of filtered.

    Scale shape: one map-only metric projection + ONE groupBy on the
    group key; the duplicate count rides the same aggregate as a
    count_distinct over 8-byte normalized-text hashes (the documented
    ~n²/2⁶⁵ collision trade of the exact-dedup family — the text never
    shuffles).  Distinct-per-group state is bounded by group size; for
    groups beyond memory comfort the same approx_count_distinct switch
    as profile_table applies."""
    c = ident_col(text_col)
    m = df.select(
        ident_col(by),
        token_count(c).alias("_nt"),
        quality_score(c).alias("_q"),
        (lang_id(c) == "en").cast("int").alias("_en"),
        F.xxhash64(normalize_text(c)).alias("_nh"),
    )
    n = F.count(F.lit(1))
    return m.groupBy(ident_col(by)).agg(
        n.cast("bigint").alias("n_docs"),
        F.sum("_nt").cast("bigint").alias("n_tokens"),
        F.round(F.avg("_q"), 6).alias("mean_quality"),
        F.round(F.sum("_en") / n, 6).alias("english_frac"),
        F.round(F.lit(1.0) - F.count_distinct(F.col("_nh")) / n, 6).alias(
            "dup_frac"
        ),
    )
