"""Corpus-cleaning operators for training-data pipelines (BASELINE north
star): PII redaction and train/test decontamination.

Both are the shapes a 100 TB pipeline needs:

* ``scrub_pii`` is map-only — a fixed chain of JVM-side regexp_replace
  calls, linear in input splits, no shuffle, no UDF.  Patterns are written
  in the common subset of Java regex and RE2 (no lookarounds) so the
  DuckDB oracle applies the IDENTICAL patterns in the IDENTICAL order.
* ``decontaminate`` drops corpus documents that share long n-gram shingles
  with a benchmark/eval set.  The benchmark side is tiny by construction
  (eval sets are KBs-to-MBs against a TB corpus), so the shingle
  membership check is a BROADCAST semi-join: the corpus side stays
  map-only — shingle, probe the broadcast set, aggregate per doc — with
  no corpus-sized shuffle.  For benchmark shingle sets too big to
  broadcast as an exact set, ``bloom=True`` swaps the set for a Bloom
  filter bitmap whose size depends only on (expected_items, fpp) — the
  probe becomes a pure map-side expression (xxhash64 + bit_get, no join
  at all) and false positives only ever OVER-remove, the safe direction
  for decontamination.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from csv_etl_spark.operators.text import ws_tokens

# Ordered (pattern, replacement) chain.  Order matters and is part of the
# contract: specific shapes (email, IP, SSN) before the greedy phone
# pattern, so "123-45-6789" becomes <SSN> not <PHONE>.  Patterns avoid
# lookarounds/backrefs — the portable Java-regex ∩ RE2 subset.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\+?\d[\d()\- ]{7,}\d", "<PHONE>"),
]


def scrub_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact PII and account per document.

    Returns (id, scrubbed, n_redactions): n_redactions counts matches of
    each pattern against the text AS SEEN AT THAT STAGE of the chain
    (matching what the replacements actually did), so the count is exactly
    the number of tokens inserted."""
    out = F.col(text_col)
    n = F.lit(0)
    for pattern, token in PII_PATTERNS:
        n = n + F.regexp_count(out, F.lit(pattern))
        out = F.regexp_replace(out, pattern, token)
    return df.select(
        F.col(id_col),
        out.alias("scrubbed"),
        n.cast("bigint").alias("n_redactions"),
    )


def string_shingles(col: Column, n: int) -> Column:
    """All n-token shingles of ``col`` as strings (space-joined) — the
    engine-portable spelling (hash-free), used where a SQL oracle must
    reproduce the shingle set exactly.  Documents shorter than n tokens
    yield no shingles."""
    toks = ws_tokens(col)
    count = F.size(toks) - F.lit(n - 1)
    # sequence(1, 0) is DESCENDING [1, 0] in Spark, not empty — docs
    # shorter than n tokens must short-circuit to an empty array
    return F.when(count < 1, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )


# C4-ish boilerplate markers (Raffel et al. 2020 §2.2: the public C4
# recipe drops lines with "javascript", the lorem-ipsum placeholder, or
# code-ish curly braces)
C4_BANNED_SUBSTRINGS: list[str] = ["javascript", "lorem ipsum", "{"]


def filter_lines(
    df: DataFrame,
    min_words: int = 3,
    require_terminal_punct: bool = True,
    banned_substrings: list[str] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style line-level boilerplate removal (the public C4/RealNews
    cleaning recipe, Raffel et al. 2020): keep only lines that (a) have ≥
    ``min_words`` whitespace words, (b) end in terminal punctuation
    (``.!?"'`` — when ``require_terminal_punct``), and (c) contain none of
    ``banned_substrings`` case-insensitively.  Returns the re-joined text
    plus per-doc kept/total line counts so a downstream gate can drop docs
    that lost too much.

    Map-only: split → array filter → array_join per row, all JVM-side
    higher-order functions — linear in input splits at 100 TB, no shuffle,
    and every predicate is engine-portable (the oracle applies the same
    rules in DuckDB list functions)."""
    banned = C4_BANNED_SUBSTRINGS if banned_substrings is None else banned_substrings
    lines = F.split(F.col(text_col), "\n")

    def keep(line: Column) -> Column:
        t = F.trim(line)
        cond = (t != "") & (F.size(F.split(t, r"\s+")) >= min_words)
        if require_terminal_punct:
            cond = cond & t.rlike("[.!?\"']$")
        for b in banned:
            cond = cond & ~F.contains(F.lower(t), F.lit(b.lower()))
        return cond

    kept = F.filter(lines, keep)
    return df.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("text"),
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(kept).cast("bigint").alias("n_lines_kept"),
    )


def _bloom_parameters(expected_items: int, fpp: float) -> tuple[int, int]:
    """Textbook Bloom sizing: m = -n·ln(p)/ln(2)², k = (m/n)·ln(2).
    m is rounded up to a whole number of 64-bit words."""
    if not 0.0 < fpp < 1.0:
        raise ValueError("fpp must be in (0, 1)")
    n = max(expected_items, 1)
    m = math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))
    m = ((m + 63) // 64) * 64
    # cap k: when m is overprovisioned (tiny n rounded up to a whole word)
    # the optimal-k formula explodes; 16 hashes already reach fpp ≈ 2^-16
    # at optimal load, and each extra hash is another probe expression in
    # the plan
    k = max(1, min(16, round(m / n * math.log(2))))
    return m, k


def _bloom_bitmap(b_sh: DataFrame, m: int, k: int) -> list[int]:
    """Build the m-bit Bloom bitmap of benchmark shingles DISTRIBUTED —
    the shuffle is keyed on the 64-bit word index (≤ m/64 groups with
    map-side bit_or partials), and only the finished bitmap (m/64 longs,
    i.e. the sketch itself) ever reaches the driver.  The benchmark
    shingle SET can be arbitrarily large; the collect is bounded by the
    sketch size alone."""
    idx = F.explode(
        F.array(*[F.pmod(F.xxhash64(F.col("_sh"), F.lit(s)), F.lit(m)) for s in range(k)])
    ).alias("i")
    rows = (
        b_sh.select(idx)
        .select(
            F.expr("i DIV 64").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(i % 64 AS INT))").alias("mask"),
        )
        .groupBy("w")
        .agg(F.bit_or("mask").alias("word"))
        .collect()
    )
    words = [0] * (m // 64)
    for r in rows:
        words[int(r["w"])] = int(r["word"])
    return words


def _bloom_might_contain(col: Column, words: list[int], m: int, k: int) -> Column:
    """JVM-side Bloom probe: every one of the k xxhash64-derived bits must
    be set in the bitmap literal.  Pure expression — no UDF, no join.

    The literal is PINNED to array<bigint>: F.lit infers array<int> when
    every word of a small bitmap happens to fit in 32 bits, and bit_get
    on an int rejects positions >= 32 — the bitmap was built as 64-bit
    words, so the probe must read 64-bit words regardless of the values
    they hold (surfaced by the first tiny-corpus streaming increment)."""
    bits = F.lit(words).cast("array<bigint>")
    checks = []
    for s in range(k):
        i = F.pmod(F.xxhash64(col, F.lit(s)), F.lit(m))
        word = F.element_at(bits, F.floor(i / F.lit(64)).cast("int") + F.lit(1))
        checks.append(F.bit_get(word, (i % F.lit(64)).cast("int")) == 1)
    return reduce(lambda a, b: a & b, checks)


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_overlap: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: bool = True,
    bloom: bool = False,
    bloom_fpp: float = 1e-4,
    bloom_expected_items: int | None = None,
) -> DataFrame:
    """Train/test decontamination: remove (``keep=True``) or flag
    (``keep=False``) corpus docs sharing ≥ ``min_overlap`` distinct
    n-gram shingles with ANY benchmark document.

    n defaults to 8 — long enough that natural collisions are rare, short
    enough to catch verbatim benchmark leakage (the standard n-gram
    decontamination recipe used for LLM training sets).

    Plan shape (exact path): corpus shingles stay distributed; the
    benchmark shingle set is distinct-ed and BROADCAST, so the probe is
    map-side; only the per-doc overlap count aggregates
    (corpus-doc-keyed, combiner-friendly).

    ``bloom=True`` is the path for benchmark shingle sets too big to
    broadcast exactly: the set collapses to an m-bit Bloom bitmap sized
    by (``bloom_expected_items``, ``bloom_fpp``) — e.g. 100 M shingles at
    fpp 1e-4 is a ~230 MB exact broadcast set vs a ~29 MB bitmap that
    never grows with shingle length.  The probe is then a pure map-side
    expression (no join), and false positives only OVER-remove — the safe
    direction for decontamination; a false positive can also only reach
    ``min_overlap`` > 1 if that many of a doc's distinct shingles all
    collide.  ``bloom_expected_items`` defaults to counting the distinct
    benchmark shingles (one extra pass over the benchmark side only).
    """
    c_sh = corpus.select(
        F.col(id_col), F.explode(F.array_distinct(string_shingles(F.col(text_col), n))).alias("_sh")
    )
    b_sh = (
        benchmark.select(F.explode(string_shingles(F.col(text_col), n)).alias("_sh"))
        .distinct()
    )
    if bloom:
        expected = bloom_expected_items if bloom_expected_items is not None else b_sh.count()
        m, k = _bloom_parameters(expected, bloom_fpp)
        words = _bloom_bitmap(b_sh, m, k)
        hits = c_sh.filter(_bloom_might_contain(F.col("_sh"), words, m, k))
    else:
        hits = c_sh.join(F.broadcast(b_sh), "_sh")
    overlaps = (
        hits.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )
    if keep:
        return corpus.join(overlaps, id_col, "left_anti")
    return corpus.join(overlaps, id_col, "left_semi")


def contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document contamination REPORT — the audit artifact logged
    alongside ``decontaminate``'s hard drop: for every corpus doc, the
    fraction of its DISTINCT n-gram shingles that appear anywhere in the
    benchmark set.  A release report needs the distribution ("0.4 % of
    docs overlap ≥ 10 %"), not just the excluded ids; thresholding this
    frame reproduces ``decontaminate`` exactly.  Returns ``(id_col,
    n_shingles, n_hits, overlap_frac)`` for EVERY corpus doc (0/0/0.0 for
    docs too short to shingle).

    Same plan shape as the exact ``decontaminate`` path: benchmark
    shingles distinct-ed and BROADCAST, the corpus side map-only into one
    doc-keyed count aggregate — the left join against the broadcast set
    adds nothing to the shuffle (hits and misses aggregate together)."""
    c_sh = corpus.select(
        F.col(id_col),
        F.explode(F.array_distinct(string_shingles(F.col(text_col), n))).alias("_sh"),
    )
    b_sh = (
        benchmark.select(F.explode(string_shingles(F.col(text_col), n)).alias("_sh"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    per_doc = (
        c_sh.join(F.broadcast(b_sh), "_sh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.count("_hit").cast("bigint").alias("n_hits"),
        )
    )
    return (
        corpus.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_shingles"), F.lit(0).cast("bigint")).alias(
                "n_shingles"
            ),
            F.coalesce(F.col("n_hits"), F.lit(0).cast("bigint")).alias("n_hits"),
            F.when(
                F.col("n_shingles") > 0,
                F.round(F.col("n_hits") / F.col("n_shingles"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("overlap_frac"),
        )
    )


def dedup_lines_within_doc(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """WITHIN-document line dedup: keep the first occurrence of every line,
    preserving order — the intra-doc half of the C4 recipe (its corpus-wide
    half is ``dedup.dedup_paragraphs``): menus/footers repeated inside one
    page collapse without any cross-document state.

    Map-only: ``array_distinct`` keeps first-occurrence order in Spark, so
    the whole operator is split → distinct → join per row — no shuffle,
    linear at 100 TB.  Returns ``(id_col, text, n_lines, n_lines_kept)``
    (the ``filter_lines`` contract, so the two compose)."""
    lines = F.split(F.col(text_col), "\n")
    kept = F.array_distinct(lines)
    # greatest(size, 0): legacy size(NULL) = -1 must not surface as a
    # line count for NULL-text rows (same fix as dedup_paragraphs, r5)
    return df.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("text"),
        F.greatest(F.size(lines), F.lit(0)).cast("bigint").alias("n_lines"),
        F.greatest(F.size(kept), F.lit(0)).cast("bigint").alias("n_lines_kept"),
    )


def drop_boilerplate_lines(
    df: DataFrame,
    max_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_lines: int | None = 1 << 16,
) -> DataFrame:
    """CROSS-corpus boilerplate-line removal — the global complement of
    ``dedup_lines_within_doc`` and the line-level analogue of the C4
    citation/boilerplate rules: a (whitespace-trimmed) line occurring in
    MORE THAN ``max_docs`` distinct documents is corpus boilerplate
    (cookie banners, nav menus, license footers) and is dropped from
    EVERY document — unlike ``dedup.dedup_paragraphs``, which keeps the
    first occurrence, boilerplate keeps none.  Whitespace-only lines are
    never counted and never dropped (they are structure, not content).
    Returns ``(id_col, text, n_lines, n_lines_kept)`` — the
    ``filter_lines`` contract, so the line-level family composes.

    Scale shape: split/posexplode is map-only; the doc-distinct line
    count is a (doc, line-key) distinct + a key-keyed count, both with
    map-side partials over 8-byte ``xxhash64`` keys (the line text never
    rides the counting shuffle; 64-bit collisions are the documented
    ~n²/2⁶⁵ trade shared with the paragraph/exact dedup family); the
    drop is a key-keyed ``left_anti`` against the hot-key set; doc
    reassembly is one doc-keyed groupBy.  No windows, no collect.
    ``max_lines`` bounds the per-doc reassembly buffer exactly like
    ``dedup_paragraphs``' ``max_paragraphs``."""
    lines = F.split(F.col(text_col), "\n")
    if max_lines is not None:
        lines = F.slice(lines, 1, max_lines)
    exploded = df.select(
        F.col(id_col).alias("_doc"),
        F.posexplode(lines).alias("_pos", "_line"),
    ).withColumn("_trim", F.trim(F.col("_line")))
    hot = (
        exploded.filter(F.col("_trim") != "")
        .select("_doc", F.xxhash64("_trim").alias("_key"))
        .distinct()
        .groupBy("_key")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") > max_docs)
        .select("_key")
    )
    kept = exploded.withColumn("_key", F.xxhash64("_trim")).join(
        hot, "_key", "left_anti"
    )
    reassembled = kept.groupBy("_doc").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s.getField("_line"),
            ),
            "\n",
        ).alias("text"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines_kept"),
    )
    totals = df.select(
        F.col(id_col).alias("_doc"),
        F.greatest(F.size(lines), F.lit(0)).cast("bigint").alias("n_lines"),
    )
    return (
        totals.join(reassembled, "_doc", "left")
        .select(
            F.col("_doc").alias(id_col),
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            F.col("n_lines"),
            F.coalesce(F.col("n_lines_kept"), F.lit(0).cast("bigint")).alias(
                "n_lines_kept"
            ),
        )
    )


# Ordered (pattern, replacement) chain for HTML → text extraction, in the
# portable Java-regex ∩ RE2 subset (inline (?is) flags, non-greedy
# repetition — no lookarounds).  Order is part of the contract: container
# blocks whose CONTENT must die (script/style/head/comments) go before the
# generic tag strip, entities decode after tags are gone, whitespace
# collapses last.
HTML_STRIP_PATTERNS: list[tuple[str, str]] = [
    (r"(?is)<script\b.*?</script>", " "),
    (r"(?is)<style\b.*?</style>", " "),
    (r"(?is)<head\b.*?</head>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"(?is)</?(p|br|div|li|tr|h[1-6])\b[^>]*>", "\n"),  # block-ish → newline
    (r"(?s)<[^>]+>", " "),
    # &amp; decodes LAST among entities (standard practice): otherwise
    # literal text "&amp;lt;" double-decodes to "<" instead of "&lt;"
    (r"&nbsp;", " "),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", "\""),
    (r"&#39;", "'"),
    (r"&amp;", "&"),
    (r"[ \t]+", " "),
    (r" ?\n ?", "\n"),
    (r"\n{2,}", "\n"),
    # edge-trim INSIDE the chain (not F.trim, which strips spaces only —
    # a leading newline would survive it); ^/$ anchor the whole string in
    # both Java and RE2 when MULTILINE is off
    (r"^\s+", ""),
    (r"\s+$", ""),
]


def strip_html_column(col: Column) -> Column:
    out = col
    for pat, rep in HTML_STRIP_PATTERNS:
        out = F.regexp_replace(out, pat, rep)
    return out


def strip_html(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """HTML → text extraction (the step before every web-corpus quality
    gate): drops script/style/head blocks WITH their content, turns
    block-level tags into newlines (so ``filter_lines`` sees real line
    structure), strips remaining tags, decodes the common entities, and
    collapses whitespace.  Returns ``(id_col, text, n_chars_removed)``.

    Map-only: a fixed JVM-side regexp_replace chain — linear in input
    splits, no shuffle, no UDF.  Patterns live in the Java∩RE2 subset so
    the SQL oracle applies the IDENTICAL chain in the IDENTICAL order
    (same discipline as ``scrub_pii``).  This is a cleaner for
    tag-soup-in-text corpora, not a browser: malformed nesting degrades
    to extra whitespace, never to retained script content."""
    cleaned = strip_html_column(F.col(text_col))
    return df.select(
        F.col(id_col),
        cleaned.alias("text"),
        (F.length(text_col) - F.length(cleaned)).cast("bigint").alias(
            "n_chars_removed"
        ),
    )
