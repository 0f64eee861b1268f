"""Text analysis for training-data pipelines — language-ID, quality
scoring, token counting, document fingerprinting.

Design rule: everything that CAN be a built-in column expression IS one
(JVM whole-stage codegen, DuckDB-oracle-checkable); Python appears only
for the rolling-hash winnowing fingerprint, which has no relational
equivalent.

Portability note: the expression set deliberately avoids engine-specific
regex dialects so every query here has a bit-identical DuckDB oracle
(split on single space, replace-based occurrence counts, md5).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import ArrayType, LongType

from gostatix_spark import hashing
from gostatix_spark.dedup import _by_text

__all__ = ["quality_features", "repetition_features", "language_id",
           "token_stats", "content_fingerprint", "winnowing_fingerprints",
           "scrub_pii", "distinctive_terms", "STOPWORDS"]

# deliberately simple character classes — identical semantics in Java
# regex (Spark) and RE2 (DuckDB), so the op is oracle-checkable
PII_PATTERNS = {
    "email": "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}",
    "phone": "\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}",
    "ssn": "[0-9]{3}-[0-9]{2}-[0-9]{4}",
}

# tiny per-language stopword marker sets (heuristic language ID)
STOPWORDS = {
    "en": [" the ", " and ", " is "],
    "de": [" der ", " und ", " ist "],
    "fr": [" le ", " et ", " est "],
    "es": [" el ", " y ", " es "],
}


def _occurrences(col: Column, needle: str) -> Column:
    """Occurrence count via length arithmetic — portable to any SQL
    engine: (len(s) − len(replace(s, needle, ''))) / len(needle)."""
    return ((F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit(""))))
            / F.lit(len(needle))).cast("long")


def token_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Whitespace token count, char count, avg token length, and a
    BPE-ish subword estimate (chars/4 heuristic — the common
    tokens≈chars/4 rule of thumb). All JVM expressions."""
    t = F.col(text_col)
    n_ws = F.size(F.split(t, " "))
    return df.select(
        F.col(id_col),
        n_ws.alias("n_ws_tokens"),
        F.length(t).alias("n_chars"),
        (F.length(t) / n_ws).alias("avg_token_len"),
        F.ceil(F.length(t) / 4).cast("long").alias("est_bpe_tokens"),
    )


def quality_features(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Heuristic quality signals: length, punctuation density, stopword
    density, uppercase ratio, digit ratio, mean word length."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_words = F.size(F.split(t, " "))
    punct = sum((_occurrences(t, c) for c in [".", ",", "!", "?", ";"]),
                F.lit(0).cast("long"))
    stop_en = sum((_occurrences(F.lower(t), w) for w in STOPWORDS["en"]),
                  F.lit(0).cast("long"))
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        F.round(punct / n_chars, 6).alias("punct_ratio"),
        F.round(stop_en / n_words, 6).alias("stopword_ratio"),
        F.round(n_chars / n_words, 6).alias("mean_word_len"),
    )


def repetition_features(df: DataFrame, text_col: str, id_col: str
                        ) -> DataFrame:
    """Repetition-based quality signals in the style of the Gopher
    data filters (Rae et al. 2021, §A1.1) and C4: documents dominated
    by a few repeated words/phrases are low-quality training data.

    Per document: ``n_words``, ``distinct_word_frac`` (vocabulary
    diversity), ``top_word_frac`` (mass of the single most frequent
    word), ``top_bigram_frac`` and ``dup_bigram_frac`` (mass of the
    most frequent word-bigram / of all bigrams occurring more than
    once).

    Computed relationally — explode → per-document groupBy → join —
    never per-row Python. Bigrams come from a higher-order array
    expression over the split (adjacent-element concat), NOT a
    lead()-window over exploded rows, so the only shuffles are the
    document-keyed aggregations; no key aggregates across documents,
    so the op partitions by doc and scales linearly with no global
    hotspot."""
    base = df.select(F.col(id_col),
                     F.split(F.col(text_col), " ").alias("ws"))
    wc = (base.select(F.col(id_col), F.explode("ws").alias("word"))
              .groupBy(id_col, "word").agg(F.count("*").alias("c")))
    wagg = wc.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_words"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_w"))
    bigrams = F.expr(
        "transform(slice(ws, 1, size(ws) - 1),"
        " (w, i) -> concat(w, ' ', element_at(ws, i + 2)))")
    bg = base.select(F.col(id_col), F.explode(bigrams).alias("bigram"))
    bgc = bg.groupBy(id_col, "bigram").agg(F.count("*").alias("c"))
    bagg = bgc.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_bigrams"),
        F.max("c").alias("top_b"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
         .cast("long").alias("dup_b"))
    out = wagg.join(bagg, id_col, "left")
    no_bg = F.col("n_bigrams").isNull() | (F.col("n_bigrams") == 0)
    return out.select(
        F.col(id_col),
        F.col("n_words"),
        F.round(F.col("n_distinct") / F.col("n_words"), 6)
         .alias("distinct_word_frac"),
        F.round(F.col("top_w") / F.col("n_words"), 6)
         .alias("top_word_frac"),
        F.when(no_bg, F.lit(0.0))
         .otherwise(F.round(F.col("top_b") / F.col("n_bigrams"), 6))
         .alias("top_bigram_frac"),
        F.when(no_bg, F.lit(0.0))
         .otherwise(F.round(F.col("dup_b") / F.col("n_bigrams"), 6))
         .alias("dup_bigram_frac"),
    )


def language_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Stopword-marker language guess: score each language by marker
    occurrences in the (space-padded, lowercased) text; argmax with a
    deterministic tie-break on language code; 'und' when all zero.
    Pure column expressions → exact SQL oracle exists."""
    padded = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))
    scores = {lang: sum((_occurrences(padded, w) for w in ws),
                        F.lit(0).cast("long"))
              for lang, ws in STOPWORDS.items()}
    out = df.select(F.col(id_col), *[scores[lg].alias(f"score_{lg}")
                                     for lg in sorted(STOPWORDS)])
    best = F.greatest(*[F.col(f"score_{lg}") for lg in sorted(STOPWORDS)])
    lang_expr = F.when(best == 0, F.lit("und"))
    for lg in sorted(STOPWORDS):  # sorted ⇒ deterministic tie-break
        lang_expr = lang_expr.when(F.col(f"score_{lg}") == best, F.lit(lg))
    return out.select(id_col, *[f"score_{lg}" for lg in sorted(STOPWORDS)],
                      lang_expr.alias("lang_guess"))


def content_fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Deterministic normalized-content fingerprint: md5 of
    lower(trim(text)) — the exact-dedup key, portable to DuckDB."""
    return df.select(F.col(id_col),
                     F.md5(F.lower(F.trim(F.col(text_col))))
                     .alias("fingerprint"))


def scrub_pii(df: DataFrame, text_col: str, id_col: str,
              out_col: str = "scrubbed") -> DataFrame:
    """Redact common PII patterns (emails, phone numbers, SSNs) with
    typed placeholders and count redactions per kind — a standard
    training-data hygiene pass, pure JVM ``regexp_replace``."""
    t = F.col(text_col)
    scrubbed = t
    counts = []
    for kind in sorted(PII_PATTERNS):
        pat = PII_PATTERNS[kind]
        counts.append(
            (F.size(F.split(t, pat)) - 1).alias(f"n_{kind}"))
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{kind.upper()}>")
    return df.select(F.col(id_col), scrubbed.alias(out_col), *counts)


def winnowing_fingerprints(df: DataFrame, text_col: str, id_col: str,
                           k: int = 8, window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD '03):
    rolling k-gram hashes → per-window minimum → distinct selected
    hashes. Not SQL-expressible; vectorized numpy per Arrow batch
    (sliding-window minimum via stride tricks). A null text reads null."""
    @F.arrow_udf(ArrayType(LongType()))
    @_by_text
    def fp(texts: list) -> pa.Array:
        out = []
        for t in texts:
            b = t.lower().encode("utf-8")
            if len(b) < k:
                out.append(np.zeros(0, np.int64))
                continue
            arr = np.frombuffer(b, dtype=np.uint8)
            n = len(arr) - k + 1
            mat = arr[np.arange(n)[:, None] + np.arange(k)[None, :]]
            h1, _ = hashing.murmur3_128_vec(mat, 0)
            if n <= window:
                sel = np.array([h1.min()])
            else:
                wins = np.lib.stride_tricks.sliding_window_view(h1, window)
                sel = np.unique(wins.min(axis=1))
            out.append(np.sort(sel).astype(np.int64))
        return pa.ListArray.from_arrays(
            pa.array(np.cumsum([0, *map(len, out)], dtype=np.int32)),
            pa.array(np.concatenate([np.zeros(0, np.int64), *out])))

    return df.select(F.col(id_col), fp(F.col(text_col)).alias("fingerprints"))


def distinctive_terms(df: DataFrame, text_col: str, id_col: str,
                      k: int = 5, log_idf: bool = False) -> DataFrame:
    """Per-document top-``k`` salient terms by tf-idf:
    ``(id, rank, term, tf, df, score)`` with ``rank`` 1..k under
    ``(score DESC, term ASC)``.

    ``log_idf=False`` (default) scores with the LINEAR idf
    ``tf · (N / df)``: the score is then built from integer counts
    with one IEEE division and one multiplication — both correctly
    rounded, so the doubles are BIT-IDENTICAL on every engine and the
    ranking (ties broken by term) is deterministic end-to-end; the
    DuckDB oracle checks ranks, terms, counts AND scores row-exactly.
    ``log_idf=True`` gives the textbook ``tf · ln(1 + N/df)`` — ln is
    only faithfully (not correctly) rounded and may differ by 1 ulp
    between libm implementations, so that variant is gated by pytest
    vectors rather than a cross-engine value hash.

    Scale shape: one doc-term hash aggregation (map-side combine), one
    term-level aggregation over the (already distinct) doc-term pairs
    for document frequency, a term-keyed join to attach df — all
    shuffles carry count rows, never text — then a per-document window
    top-k (partitioned by doc id: no global hotspot, per-group state
    is one document's distinct terms). N is a one-row broadcast
    aggregate cross-joined in — the corpus size never passes through
    the driver as data."""
    from pyspark.sql import Window

    base = df.select(F.col(id_col), F.explode(F.split(F.col(text_col), " "))
                     .alias("term"))
    dt = base.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    term_df = dt.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.select(F.countDistinct(id_col).alias("n_docs"))
    scored = (dt.join(term_df, "term")
                .crossJoin(F.broadcast(n_docs)))
    if log_idf:
        score = F.col("tf") * F.log1p(F.col("n_docs") / F.col("df"))
    else:
        score = F.col("tf") * (F.col("n_docs") / F.col("df"))
    scored = scored.withColumn("score", score)
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(),
                                           F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(F.col(id_col), "rank", "term", "tf", "df", "score"))
