"""Text-analysis operators for training-data pipelines (north-star scale
extensions; grounded in the reference's text pipeline T1/T9 but beyond it).

All column-level, JVM-side expressions — no Python UDFs in the hot path:
language-ID (marker-token heuristic), quality scoring (length / punct /
stopword ratios), token counting (whitespace + BPE-ish regex), and
document fingerprinting (normalized-text MD5 + SimHash).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ariadne_dbt_spark.functions.text import STOPWORDS, tokenize

#: tiny per-language marker lexicons for the n-gram/keyword heuristic.
#: Real deployments swap in fastText/CLD3 via a pandas UDF; the heuristic
#: keeps the whole pipeline JVM-side and deterministic.
LANG_MARKERS = {
    "en": ("the", "and", "of", "is", "value", "table"),
    "es": ("el", "la", "de", "que", "los"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "les", "des", "est"),
    "zh": ("de", "shi", "le", "zai"),
}

_BPE_ISH = "[a-z0-9]+|[^a-z0-9\\s]"


def whitespace_token_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.split(F.trim(c), "\\s+"))


def bpe_ish_token_count(text: Column | str) -> Column:
    """Count word-chunks + isolated punctuation — a cheap proxy for BPE
    token counts (regexp_count stays in whole-stage codegen)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(F.lower(c), F.lit(_BPE_ISH))


def punct_ratio(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    n_punct = F.length(c) - F.length(F.regexp_replace(c, "[^\\w\\s]", ""))
    return F.when(F.length(c) > 0, n_punct.cast("double") / F.length(c)).otherwise(0.0)


def _idiv(a: Column, b: Column) -> Column:
    """Exact floor division for non-negative bigints via (a - a%b)/b —
    every step is exact, so Spark and any SQL engine agree bit-for-bit."""
    return ((a - F.pmod(a, b)) / b).cast("long")


def quality_score_millionths(text: Column | str) -> Column:
    """Composite quality heuristic in millionths (bigint):

    ``min(n_chars·800, 400000)                       # 0.4 · min(len/500, 1)
      + 300000 - min(n_punct·1200000 // n_chars, 300000)   # 0.3 · (1 - min(4·punct_ratio, 1))
      + min(n_stop·1500000 // n_toks, 300000)        # 0.3 · min(5·stop_ratio, 1)``

    Pure integer arithmetic — float ratio scores sit exactly on rounding
    boundaries for short texts (ratios like 7/64 are exact binary
    fractions), so a float formulation is NOT engine-stable; this is.
    """
    c = F.col(text) if isinstance(text, str) else text
    n = F.length(c).cast("long")
    n_punct = (F.length(c) - F.length(F.regexp_replace(c, "[^\\w\\s]", ""))).cast("long")
    toks = F.filter(
        F.split(F.regexp_replace(F.lower(c), "[^a-z0-9\\s]", " "), "\\s+"),
        lambda t: F.length(t) >= 1,
    )
    n_toks = F.size(toks).cast("long")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("long")
    len_term = F.least(n * 800, F.lit(400000).cast("long"))
    punct_term = F.when(
        n > 0,
        F.lit(300000).cast("long")
        - F.least(_idiv(n_punct * 1200000, n), F.lit(300000).cast("long")),
    ).otherwise(F.lit(300000).cast("long"))
    stop_term = F.when(
        n_toks > 0, F.least(_idiv(n_stop * 1500000, n_toks), F.lit(300000).cast("long"))
    ).otherwise(F.lit(0).cast("long"))
    return (len_term + punct_term + stop_term).alias("quality_millionths")


def detect_language_from_tokens(toks: Column) -> Column:
    """argmax over marker-lexicon hit counts on a pre-tokenized array;
    zero-hits → 'unknown', positive-hit ties → lexicographically larger
    lang (deterministic). Callers should materialize the token array
    behind an exchange barrier — referencing an inlined ``tokenize``
    here would re-run the tokenizer once per lexicon after projection
    collapse (see lang_detect_confusion)."""
    pairs = []
    for lang, markers in LANG_MARKERS.items():
        hits = F.size(F.filter(toks, lambda t: t.isin(*markers)))
        pairs.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    # array_max on struct orders by (hits, lang) lexicographically — the
    # lang tie-break makes argmax deterministic
    best = F.array_max(F.array(*pairs))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("unknown"))


def detect_language(text: Column | str) -> Column:
    """Keyword-hit-counting language ID over raw text (reference:
    capsule.py:24-43 scores 6 intent lexicons the same way)."""
    c = F.col(text) if isinstance(text, str) else text
    return detect_language_from_tokens(tokenize(c, min_len=1, stop=False))


def fingerprint_md5(text: Column | str) -> Column:
    """Whitespace-normalized MD5 — the exact-dedup key."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.regexp_replace(F.trim(F.lower(c)), "\\s+", " "))


def with_simhash(
    df,
    text_col: str,
    out_col: str = "simhash",
    *,
    shingle: int = 2,
    repartition_to: int | None = None,
):
    """64-bit SimHash over word shingles, pure SQL-lambda expressions.

    Per shingle: xxhash64 → each of the 64 bits votes +1/-1; the sign of
    each bit's vote sum forms the fingerprint. The bit loops need
    variable shift counts, which only the SQL forms of shiftleft /
    shiftright accept — hence one F.expr over a named hashes column.

    ``repartition_to`` materializes the token array behind an exchange
    barrier: the shingle lambdas then reference an attribute instead of
    the inlined tokenizer (which projection collapse would re-run per
    shingle), and the vote folds parallelize past however few partitions
    the source arrived in.
    """
    tmp_toks = "_simhash_toks"
    df = df.withColumn(tmp_toks, tokenize(F.col(text_col), min_len=1, stop=False))
    if repartition_to:
        df = df.repartition(repartition_to)
    toks = F.col(tmp_toks)
    # short/empty docs → no shingles (sequence(1,0) descends; see
    # dedup.shingle_sets for the same ANSI-mode guard)
    idx = F.when(
        F.size(toks) >= shingle, F.sequence(F.lit(1), F.size(toks) - shingle + 1)
    ).otherwise(F.array().cast("array<int>"))
    shingles = F.transform(idx, lambda i: F.array_join(F.slice(toks, i, shingle), " "))
    hashes = F.transform(shingles, lambda s: F.xxhash64(s))
    tmp = "_simhash_hashes"
    return (
        df.withColumn(tmp, hashes)
        .drop(tmp_toks)
        .withColumn(
            out_col,
            F.expr(
                f"""
                aggregate(
                  zip_with(
                    aggregate({tmp}, array_repeat(0L, 64),
                      (acc, h) -> zip_with(acc, sequence(0, 63),
                        (a, bit) -> a + IF((shiftright(h, bit) & 1L) = 1L, 1L, -1L))),
                    sequence(0, 63),
                    (v, bit) -> IF(v > 0L, shiftleft(1L, bit), 0L)),
                  0L, (acc, x) -> acc | x)
                """
            ),
        )
        .drop(tmp)
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


# -- PII scrubbing + repetition signals (training-data pipeline staples) ------

#: conservative, engine-portable patterns (same regex dialect subset works
#: in Java regex and DuckDB's RE2)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"


def count_pii(col: Column | str) -> tuple[Column, Column]:
    """(n_emails, n_urls) occurrence counts — JVM regexp, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), F.lit(0))).cast("int"),
        F.size(F.regexp_extract_all(c, F.lit(URL_RE), F.lit(0))).cast("int"),
    )


def redact_pii(col: Column | str) -> Column:
    """Replace emails/URLs with typed placeholder tags. At 100 TB this is
    a map-only pass (whole-stage codegen'd regexp_replace chain)."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, URL_RE, "<URL>")


def repetition_stats(df, id_col: str, text_col: str):
    """Per-doc repetition signals (Gopher/C4-style quality filters):

    * ``dup_tok_millionths`` — floor(1e6 × (total − distinct) / total)
    * ``top_tok_millionths`` — floor(1e6 × max-token-count / total)

    Shape: explode tokens → two-level groupBy — the scalable path for
    per-doc distinct/mode statistics (per-row array folds would be
    O(distinct×total) per document). Integer millionths keep the values
    exactly comparable across engines.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).where(F.col("tok") != "")
    per_tok = toks.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("n"))
    return per_tok.groupBy("id").agg(
        F.expr("div(1000000 * (sum(n) - count(1)), sum(n))").alias("dup_tok_millionths"),
        F.expr("div(1000000 * max(n), sum(n))").alias("top_tok_millionths"),
    )


def chunk_documents(
    df,
    id_col: str,
    text_col: str,
    *,
    chunk_tokens: int = 64,
    stride: int = 48,
):
    """Split documents into token-window chunks for embedding pipelines:
    ``(id, chunk_id, chunk_text, n_tokens)``; windows of ``chunk_tokens``
    whitespace tokens every ``stride`` (overlap = chunk_tokens − stride).

    Scale shape: one exchange — tokens are materialized into a real
    per-doc array via posexplode → groupBy/collect (the projection-
    collapse-safe pattern; an inlined split() referenced from a
    slice-per-chunk lambda would re-tokenize the document once per
    chunk), then chunk assembly is pure array ops on the materialized
    column and the explode is map-side.
    """
    assert 0 < stride <= chunk_tokens
    toks_tbl = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"),
    )
    arr = (
        toks_tbl.groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "tok"))).alias("_pt"))
        .select("id", F.transform("_pt", lambda s: s["tok"]).alias("_toks"))
    )
    n = F.size("_toks")
    starts = F.sequence(F.lit(0), n - 1, F.lit(stride))
    chunks = arr.select(
        "id",
        n.alias("_n"),
        F.col("_toks"),
        F.posexplode(starts).alias("chunk_id", "start"),
    )
    return chunks.select(
        "id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.array_join(
            F.slice("_toks", F.col("start") + 1, chunk_tokens), " "
        ).alias("chunk_text"),
        F.least(F.lit(chunk_tokens), F.col("_n") - F.col("start"))
        .cast("int")
        .alias("n_tokens"),
    )


def html_to_text(col: Column | str) -> Column:
    """Bulk HTML → text, fully JVM-side (the scale path for WARC
    pipelines): drop ``<script>``/``<style>``/comment blocks, strip
    tags (block-level tags become newlines so paragraph structure
    survives for the line-level operators), decode the common
    entities, collapse runs of spaces. Regex extraction, not a DOM
    parse — the right fidelity/throughput trade for corpus-scale text
    mining (boilerplate and junk are handled by the downstream
    quality/dedup stages, which is where C4 does it too); use a real
    parser off-path if exact DOM semantics ever matter.
    """
    c = F.col(col) if isinstance(col, str) else col
    # kill non-content blocks first (non-greedy, case-insensitive,
    # dotall so multi-line scripts go too)
    c = F.regexp_replace(c, r"(?is)<(script|style|noscript)\b.*?</\1\s*>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    # block-level boundaries → newline (keeps line structure for
    # remove_boilerplate_lines); everything else → space
    c = F.regexp_replace(
        c,
        r"(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|table|section|article|header|footer|blockquote)\b[^>]*>",
        "\n",
    )
    c = F.regexp_replace(c, r"<[^>]+>", " ")
    for ent, rep in (
        ("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "'"), ("&apos;", "'"),
    ):
        c = F.regexp_replace(c, ent, rep)
    # collapse horizontal whitespace; trim each line; drop blank runs
    c = F.regexp_replace(c, r"[ \t\r\f]+", " ")
    c = F.regexp_replace(c, r" ?\n ?", "\n")
    c = F.regexp_replace(c, r"\n{2,}", "\n")
    return F.trim(c)


#: Gopher rule stopword set (Rae et al. 2021 Appendix A: a doc must
#: contain at least two of these)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(df, id_col: str, text_col: str):
    """The Gopher document-quality rule bundle (Rae et al. 2021,
    Appendix A — the canonical pretraining heuristic filter), as
    INTEGER-EXACT JVM column expressions: every ratio threshold is a
    cross-multiplication of exact counts (``10*x <= n`` instead of
    ``x/n <= 0.1``), so there is no float to drift cross-engine and the
    SQL oracle mirrors bit-for-bit. One projection, no shuffle — the
    filter is map-only at any corpus size.

    Returns ``(id, n_words, r_word_count, r_mean_word_len,
    r_symbol_ratio, r_bullet_lines, r_ellipsis_lines, r_alpha_words,
    r_stopwords, pass_all)``:

    * 50 <= words <= 100 000
    * 3 <= mean word length <= 10
    * (#'#' + #'...') <= 10% of words
    * <=10% of lines start with a bullet ('-' or '*')
    * <=30% of lines end with '...'
    * >=80% of words contain an alphabetic character
    * contains >=2 distinct GOPHER_STOPWORDS

    NULL text is treated as empty (``size(split(NULL))`` is -1 in
    Spark, which would silently satisfy every ``<=`` rule).
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.filter(F.split(F.trim(F.lower(c)), r"\s+"), lambda t: F.length(t) >= 1)
    lines = F.split(c, "\n")
    n_words = F.size(toks)
    n_lines = F.size(lines)
    total_word_chars = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    n_hash = F.size(F.split(c, "#", -1)) - 1
    n_ellipsis = F.size(F.split(c, r"\.\.\.", -1)) - 1
    bullet_lines = F.size(F.filter(lines, lambda l: F.trim(l).rlike("^[-*]")))
    ellipsis_lines = F.size(F.filter(lines, lambda l: F.rtrim(l).endswith("...")))
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    n_stop = sum(
        F.array_contains(toks, w).cast("int") for w in GOPHER_STOPWORDS
    )
    out = df.select(
        F.col(id_col).alias("id"),
        n_words.cast("bigint").alias("n_words"),
        ((n_words >= 50) & (n_words <= 100_000)).alias("r_word_count"),
        (
            (total_word_chars >= 3 * n_words) & (total_word_chars <= 10 * n_words)
        ).alias("r_mean_word_len"),
        (10 * (n_hash + n_ellipsis) <= n_words).alias("r_symbol_ratio"),
        (10 * bullet_lines <= n_lines).alias("r_bullet_lines"),
        (10 * ellipsis_lines <= 3 * n_lines).alias("r_ellipsis_lines"),
        (10 * alpha_words >= 8 * n_words).alias("r_alpha_words"),
        (n_stop >= 2).alias("r_stopwords"),
    )
    rules = [
        "r_word_count", "r_mean_word_len", "r_symbol_ratio",
        "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words", "r_stopwords",
    ]
    acc = F.col(rules[0])
    for r in rules[1:]:
        acc = acc & F.col(r)
    return out.withColumn("pass_all", acc)


def unicode_normalize(col, *, form: str = "NFC", strip_marks: bool = False):
    """Unicode normalization for text pipelines — the step before any
    fingerprint/dedup stage (composed 'é' and decomposed 'e'+U+0301 are
    different bytes but the same text; skipping this silently splits
    duplicates).

    Arrow-batched pandas UDF (Spark has no JVM NFC builtin — this is
    the sanctioned batch-level slow path, vectorized over Arrow
    batches). ``strip_marks=True`` additionally folds accents by
    dropping combining marks from the NFD form — verified
    character-for-character identical to DuckDB's
    ``strip_accents(nfc_normalize(x))`` (tests + oracle), so the SQL
    mirror is exact. NULL propagates.
    """
    import pandas as pd

    globals()["pd"] = pd  # postponed type hints resolve against module globals
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        import unicodedata

        def f(x):
            if x is None:
                return None
            y = unicodedata.normalize(form, x)
            if strip_marks:
                y = "".join(
                    ch
                    for ch in unicodedata.normalize("NFD", y)
                    if not unicodedata.combining(ch)
                )
            return y

        return s.map(f)

    c = F.col(col) if isinstance(col, str) else col
    return _norm(c)


def lexical_diversity(df, id_col: str, text_col: str):
    """Per-document lexical-diversity features: type-token ratio and
    hapax-legomenon ratio — standard corpus-quality signals beside the
    Gopher rule bundle (machine-generated / templated text shows low
    TTR; OCR noise shows an abnormally high hapax share).

    Returns ``(id, n_tokens, n_types, ttr_millionths, hapax_millionths)``
    with the ratios as exact integer millionths (``1e6 * x // n`` —
    the repo's cross-engine float rule: integer arithmetic hashes
    identically everywhere).

    Scale shape: explode → ONE shuffle on ``(id, token)`` with map-side
    combine, then a second narrow agg keyed by id. No per-doc quadratic
    higher-order lambdas (``size(filter(toks, ...))`` per distinct token
    would re-scan the array per type).
    """
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    per_tok = toks.groupBy("_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        per_tok.groupBy("_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.when(F.col("cnt") == 1, F.lit(1)).otherwise(F.lit(0))).alias("n_hapax"),
        )
        .select(
            F.col("_id").alias(id_col),
            F.col("n_tokens").cast("bigint").alias("n_words"),
            F.col("n_types").cast("bigint").alias("n_types"),
            # integer DIV, not float-divide-then-cast: DuckDB CAST(double)
            # rounds-half-even while Spark truncates — DIV / // floor
            # identically for these positive operands
            F.expr("(n_types * 1000000) DIV n_tokens").cast("bigint").alias("ttr_millionths"),
            F.expr("(n_hapax * 1000000) DIV n_tokens").cast("bigint").alias("hapax_millionths"),
        )
    )


def compression_ratio_millionths(col: Column | str) -> Column:
    """zlib-compressibility of the UTF-8 text as an integer ratio
    (``compressed_len * 1e6 // raw_len``; NULL for empty/NULL input) —
    the entropy-proxy quality signal: templated/repeated spam
    compresses far below natural text, encrypted/binary junk far above
    (used alongside the Gopher repetition rules in web-corpus
    pipelines).

    Arrow-batched pandas UDF (no JVM zlib expression exists) — the
    sanctioned batch-level slow path, one Python round-trip per Arrow
    batch. Deterministic for a fixed zlib level (6)."""
    import pandas as pd

    globals()["pd"] = pd  # postponed type hints resolve against module globals
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _ratio(s: pd.Series) -> pd.Series:
        import zlib

        def f(x):
            if x is None:
                return None
            raw = x.encode("utf-8")
            if not raw:
                return None
            return len(zlib.compress(raw, 6)) * 1000000 // len(raw)

        return s.map(f)

    c = F.col(col) if isinstance(col, str) else col
    return _ratio(c)
