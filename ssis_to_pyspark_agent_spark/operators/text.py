"""Text analysis operators (SURVEY §2.12 — NEW): language-ID, quality
scoring, token counting, document fingerprinting.

The reference's only text surface is Term Lookup/Extraction (recognized
types, data_engineering_parser.py:1119-1120). These operators are the
training-data-pipeline versions, all built-in-function only (regexp/array
ops inside whole-stage codegen — a Python UDF here would dominate runtime
at 100 TB).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ssis_to_pyspark_agent_spark.operators import operator
from ssis_to_pyspark_agent_spark.operators.dedup import (
    _lambda_bind, _norm_text, _words)

# Tiny per-language stopword lists for the n-gram/stopword-ratio heuristic.
# Deliberately short: language ID by stopword hit-rate needs only the most
# frequent function words.
_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for", "was", "on", "with", "as", "are"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "nicht", "ein", "eine", "zu", "im", "für"],
    "fr": ["le", "la", "les", "et", "de", "des", "un", "une", "est", "que", "pour", "dans", "qui", "pas"],
    "es": ["el", "la", "los", "las", "y", "de", "que", "en", "un", "una", "es", "por", "con", "para", "no"],
    "it": ["il", "la", "di", "che", "e", "un", "una", "per", "non", "sono", "con", "del", "si", "nel"],
}


def _stopword_hits(words: Column, lang: str) -> Column:
    sw = F.array(*[F.lit(w) for w in _STOPWORDS[lang]])
    return F.size(F.filter(words, lambda w: F.array_contains(sw, w)))


@operator("text.lang_id")
def lang_id(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Stopword-ratio language ID. Adds `lang_pred` (argmax language) and
    `lang_score` (hit ratio of the winner; 0 tokens -> 'und').
    config: text_col, languages (default all built-ins)."""
    df: DataFrame = inputs[0]
    text_col = config["text_col"]
    langs = config.get("languages", list(_STOPWORDS))
    words = _words(F.col(text_col))
    n = F.greatest(F.size(words), F.lit(1))
    scored = F.array(
        *[
            F.struct(
                (_stopword_hits(words, lg) / n).alias("score"), F.lit(lg).alias("lang")
            )
            for lg in langs
        ]
    )
    best = F.array_sort(scored)[F.size(scored) - 1]  # max by (score, lang)
    return df.withColumns(
        {
            "lang_pred": F.when(F.size(words) == 0, F.lit("und")).otherwise(
                F.when(best["score"] <= 0, F.lit("und")).otherwise(best["lang"])
            ),
            "lang_score": best["score"],
        }
    )


@operator("text.quality")
def quality(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Heuristic quality features (the usual pretraining-filter signals):
    n_chars, n_words, mean_word_len, punct_ratio, digit_ratio, upper_ratio,
    stopword_ratio (en), plus a composite `quality_score` in [0,1].
    All ratios are over non-space characters to be length-stable."""
    df: DataFrame = inputs[0]
    c = F.col(config["text_col"])
    words = _words(c)
    nonspace = F.greatest(
        F.length(F.regexp_replace(c, r"\s", "")), F.lit(1)
    ).cast("double")
    n_words = F.greatest(F.size(words), F.lit(1))
    feats = {
        "n_chars": F.length(c).cast("bigint"),
        "n_words": F.size(words).cast("bigint"),
        "mean_word_len": F.aggregate(
            words, F.lit(0.0), lambda acc, w: acc + F.length(w)
        )
        / n_words,
        "punct_ratio": F.length(F.regexp_replace(c, r"[^!-/:-@\[-`{-~]", ""))
        / nonspace,
        "digit_ratio": F.length(F.regexp_replace(c, r"[^0-9]", "")) / nonspace,
        "upper_ratio": F.length(F.regexp_replace(c, r"[^A-Z]", "")) / nonspace,
        "stopword_ratio": _stopword_hits(words, "en") / n_words,
    }
    out = df.withColumns(feats)
    # Composite: reward stopword presence & sane word length, punish
    # punctuation/digit walls. Clamped to [0,1].
    score = (
        F.lit(0.4) * F.least(F.col("stopword_ratio") * 4, F.lit(1.0))
        + F.lit(0.3)
        * F.when((F.col("mean_word_len") >= 3) & (F.col("mean_word_len") <= 10), 1.0).otherwise(0.0)
        + F.lit(0.15) * F.when(F.col("punct_ratio") < 0.1, 1.0).otherwise(0.0)
        + F.lit(0.15) * F.when(F.col("digit_ratio") < 0.2, 1.0).otherwise(0.0)
    )
    return out.withColumn("quality_score", F.round(score, 4))


@operator("text.token_count")
def token_count(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Token counting: `ws_tokens` (whitespace split) and `bpe_tokens`
    (BPE-ish regex: word pieces, numbers, punctuation singles — the classic
    GPT-2 pretokenizer shape, no model needed)."""
    df: DataFrame = inputs[0]
    c = F.col(config["text_col"])
    ws = F.size(F.filter(F.split(F.trim(c), r"\s+"), lambda x: x != ""))
    pieces = F.regexp_extract_all(
        c, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"), 0
    )
    # ~4 chars/BPE-token heuristic applied per word piece: long words split
    bpe = F.aggregate(
        pieces,
        F.lit(0).cast("bigint"),
        lambda acc, p: acc + F.ceil(F.length(p) / 4.0).cast("bigint"),
    )
    return df.withColumns(
        {"ws_tokens": ws.cast("bigint"), "bpe_tokens": bpe}
    )


@operator("text.fingerprint")
def fingerprint(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Document fingerprints: `fp_md5` (md5 of normalized text — exact-dup
    key), `fp_winnow` (min rolling-hash over word 4-shingles — survives
    small edits; the winnowing idea with window = whole doc)."""
    df: DataFrame = inputs[0]
    c = F.col(config["text_col"])
    k = config.get("shingle_k", 4)
    from ssis_to_pyspark_agent_spark.operators.dedup import _shingles

    norm = _norm_text(c)
    shingle_hashes = F.transform(_shingles(c, k), lambda s: F.xxhash64(s))
    return df.withColumns(
        {
            "fp_md5": F.md5(norm),
            "fp_winnow": F.array_min(shingle_hashes),
        }
    )


@operator("text.classify")
def classify(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Batched model-inference hook (SURVEY §2.12: "sentiment/classify via
    pandas_udf batch model inference"). The plumbing — Arrow batches, label
    + score columns, model loaded once per worker — is real, and
    ``model='logreg'`` runs a REAL (if tiny) model end to end: a numpy
    multinomial linear classifier over hash-bucketed bag-of-words counts,
    one vectorized X @ W.T per Arrow batch. Weights are integer — either
    supplied (``weights``: {label: [hash_dim ints]}, e.g. trained
    offline) or md5-derived in-code — and features are 60-bit-md5 token
    buckets, so logits are EXACT integer arithmetic re-derivable in any
    engine (no sigmoid in the output: cross-engine exp() ulps would
    poison bit-exact oracles; a logit is a monotone score). The default
    ``model='stub'`` keeps the original hash pseudo-model; a real
    ONNX/torch session drops into `_load_model_stub` the same way.

    config: text_col, labels (default sentiment-ish), out prefix,
    model ('stub'|'logreg'), hash_dim (logreg feature buckets, default
    64), weights (optional {label: [ints]})."""
    import pandas as pd

    df: DataFrame = inputs[0]
    text_col = config["text_col"]
    labels = config.get("labels", ["negative", "neutral", "positive"])
    prefix = config.get("out", "cls")
    model_kind = config.get("model", "stub")
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"{prefix}_label string", f"{prefix}_score double"]
    )

    if model_kind == "logreg":
        import hashlib

        import numpy as np

        D = int(config.get("hash_dim", 64))

        def _md5i(s: str) -> int:
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        user_w = config.get("weights")
        if user_w is not None:
            W = np.array([user_w[lb] for lb in labels], dtype=np.int64)
            if W.shape != (len(labels), D):
                raise ValueError(
                    f"weights must be {len(labels)}x{D}, got {W.shape}"
                )
        else:
            # fixed-in-code deterministic weights: the engine-neutral
            # 60-bit md5 idiom (same as the LSH hyperplanes oracle)
            W = np.array(
                [
                    [_md5i(f"lrw:{lb}:{d}") % 2001 - 1000 for d in range(D)]
                    for lb in labels
                ],
                dtype=np.int64,
            )

        import re as _re

        # ASCII-whitespace split, matching Java \s (the engine's _words
        # normalization) and RE2 \s (the DuckDB oracle) — Python
        # str.split() also breaks on U+00A0/U+2028 etc., which the other
        # two engines treat as token characters
        _ws = _re.compile(r"[ \t\n\x0b\f\r]+")

        def batches(it):
            # token -> bucket memo: md5 per DISTINCT token, not per
            # occurrence — Zipfian corpora hit the memo constantly, so
            # interpreter-side hashing stops dominating the vectorized
            # X @ W.T it feeds (a real ONNX/torch featurizer would keep
            # its vocab map the same way). Task-lifetime dict, CAPPED:
            # on unique-token-heavy text (ids, emails, URLs) the memo
            # would otherwise grow one str key per distinct token with
            # near-zero hit rate — past the cap the Zipf head is
            # already memoized, so new tokens just hash directly.
            bucket: dict[str, int] = {}
            memo_cap = 1_000_000
            for pdf in it:
                n = len(pdf)
                X = np.zeros((n, D), dtype=np.int64)
                for i, t in enumerate(pdf[text_col].fillna("")):
                    for tok in _ws.split(t.lower()):
                        if tok:
                            b = bucket.get(tok)
                            if b is None:
                                b = _md5i(tok) % D
                                if len(bucket) < memo_cap:
                                    bucket[tok] = b
                            X[i, b] += 1
                logits = X @ W.T  # (n, L): the vectorized inference pass
                best = logits.argmax(axis=1)  # tie -> lowest label index
                yield pdf.assign(
                    **{
                        f"{prefix}_label": [labels[b] for b in best],
                        f"{prefix}_score": logits[
                            np.arange(n), best
                        ].astype(float),
                    }
                )

        return df.mapInPandas(batches, schema=out_schema)

    def _load_model_stub():
        # MODEL HOOK (stub): deterministic pseudo-logits from a text hash.
        import hashlib

        def predict(texts: pd.Series) -> tuple[list[str], list[float]]:
            ls, ss = [], []
            for t in texts:
                h = hashlib.md5((t or "").encode()).digest()
                idx = h[0] % len(labels)
                ls.append(labels[idx])
                ss.append(round(0.5 + (h[1] / 255.0) / 2, 6))
            return ls, ss

        return predict

    def batches(it):
        model = _load_model_stub()  # once per task, like a real model load
        for pdf in it:
            lab, score = model(pdf[text_col])
            yield pdf.assign(**{f"{prefix}_label": lab, f"{prefix}_score": score})

    return df.mapInPandas(batches, schema=out_schema)


@operator("text.tfidf")
def tfidf(spark: SparkSession, inputs, config, context) -> DataFrame:
    """TF-IDF over a text column with built-in ops only (no MLlib
    HashingTF — exact terms, fully oracle-checkable): explode words ->
    tf per (doc, term), document frequency per term, smoothed
    idf = ln((N+1)/(df+1)) + 1 (sklearn's formulation).

    `min_df` prunes the long tail of hapax terms before the join (the
    scale lever: the df table is then small enough to broadcast).
    Output: (id, term, tf, df, tfidf)."""
    df: DataFrame = inputs[0]
    id_col, text_col = config["id_col"], config["text_col"]
    min_df = config.get("min_df", 1)

    words = df.select(
        F.col(id_col), F.explode(_words(F.col(text_col))).alias("term")
    ).filter(F.col("term") != "")
    tf = words.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.count()
    dfreq = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
    )
    return tf.join(F.broadcast(dfreq), "term").select(
        id_col,
        "term",
        "tf",
        "df",
        # round(6): Spark's Math.log and DuckDB's libm log differ by 1 ulp
        # on some inputs — transcendental outputs must be quantized to be
        # engine-comparable
        F.round(
            F.col("tf") * (F.log((F.lit(n_docs) + 1) / (F.col("df") + 1)) + 1), 6
        ).alias("tfidf"),
    )


@operator("term_lookup")
def term_lookup(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Term Lookup (reference :1119): count occurrences of reference terms
    in each row's text. inputs: [docs, terms]; terms broadcast; output adds
    `term` + `term_count` rows per (doc, matched term) — SSIS semantics.

    Explode + broadcast equi-join, NOT a crossJoin: compute is linear in
    token count instead of O(docs x |terms| x doc_len), so a 10k-term
    dictionary at 100 TB costs one narrow explode + one BroadcastHashJoin;
    the only shuffle is the groupBy over matched occurrences (terms that
    never match never leave the map side). `passthrough` bounds the
    shuffled payload — at scale pass the doc key, not the text column.
    """
    docs, terms = inputs[0], inputs[1]
    text_col, term_col = config["text_col"], config["term_col"]
    t = F.broadcast(terms.select(F.lower(F.col(term_col)).alias("_term")).distinct())
    pt = config.get("passthrough") or docs.columns
    # synthetic per-row key: the regroup after the explode must not merge
    # input rows that happen to be identical across every passthrough
    # column (SSIS emits one output row per input row per matched term)
    exploded = docs.withColumn("_rid", F.monotonically_increasing_id()).select(
        *pt, "_rid", F.explode(_words(F.col(text_col))).alias("_w")
    )
    return (
        exploded.join(t, F.col("_w") == F.col("_term"))
        .groupBy(*pt, "_rid", "_term")
        .agg(F.count(F.lit(1)).alias("term_count"))
        .drop("_rid")
        .withColumnRenamed("_term", "term")
    )


# PII patterns kept lookaround-free so the same regex runs identically on
# Java (Spark) and RE2 (DuckDB) engines — the oracle depends on parity.
_PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
}


@operator("text.redact")
def redact(spark: SparkSession, inputs, config, context) -> DataFrame:
    """PII scrubbing for training corpora: replace emails / IPv4 addresses /
    phone numbers with typed placeholders and count matches per type.

    Pure JVM regexp_replace/regexp_count chain — one narrow pass, no
    Python, no shuffle; at 100 TB this is scan-bound. `patterns` overrides
    or extends the default map (name -> regex; keep patterns RE2-safe if
    the output feeds an engine-neutral oracle).

    ``luhn_cc=True`` additionally redacts payment-card numbers: 13-19
    digit candidates (spaces/dashes allowed) are VALIDATED with the
    Luhn mod-10 checksum before replacement — a bare \\d{13,19} regex
    would eat order ids and timestamps; the checksum gate is the
    standard PCI-scrubbing discipline. Candidates that fail the check
    are left untouched (and not counted). Pure expressions: extract-all
    -> filter(Luhn over the reversed digit list, doubling map inline)
    -> fold replace; engine-neutral, so the oracle replays even the
    checksum arithmetic. Card redaction runs FIRST, against the same
    un-rewritten text the candidates were extracted from — a pattern
    pass could otherwise rewrite a candidate's characters (a 3-3-4
    digit grouping inside a card matches the phone regex), leaving it
    counted in n_credit_card but never replaced — and the replacement
    is \\b-anchored so a candidate's digit string reappearing EMBEDDED
    in a longer run elsewhere in the doc is not rewritten mid-run."""
    df: DataFrame = inputs[0]
    c = config["text_col"]
    out_col = config.get("out", f"{c}_redacted")
    patterns = {**_PII_PATTERNS, **config.get("patterns", {})}
    red = F.col(c)
    counts = {}
    if config.get("luhn_cc", False):
        cand = F.regexp_extract_all(
            F.col(c), F.lit(r"\b\d(?:[ -]?\d){12,18}\b"), 0
        )

        def luhn_ok(s: Column) -> Column:
            # digits, least-significant first; 0-based odd positions
            # double (9-wrap) — the mod-10 account-number checksum
            ds = F.split(F.reverse(F.regexp_replace(s, "[ -]", "")), "")
            contrib = F.transform(
                ds,
                lambda x, i: F.when(
                    i % 2 == 1,
                    F.when(x.cast("int") * 2 > 9, x.cast("int") * 2 - 9)
                    .otherwise(x.cast("int") * 2),
                ).otherwise(x.cast("int")),
            )
            total = F.aggregate(contrib, F.lit(0), lambda a, b: a + b)
            return (
                F.size(ds).between(13, 19) & (F.pmod(total, 10) == 0)
            )

        valid = F.filter(cand, luhn_ok)
        counts["n_credit_card"] = F.size(valid)
        # candidates contain only [0-9 -] so the interpolated regex is
        # literal-safe; the \b anchors match the extraction's boundaries
        red = F.aggregate(
            valid, red,
            lambda acc, x: F.regexp_replace(
                acc,
                F.concat(F.lit(r"\b"), x, F.lit(r"\b")),
                F.lit("[CREDIT_CARD]"),
            ),
        )
    for name, pat in patterns.items():
        counts[f"n_{name}"] = F.regexp_count(F.col(c), F.lit(pat))
        red = F.regexp_replace(red, pat, f"[{name.upper()}]")
    return df.withColumns({**counts, out_col: red})


#: entity decode order matters: '&amp;' LAST, or '&amp;lt;' would
#: double-decode into '<'
_HTML_ENTITIES = [
    ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"), ("&apos;", "'"), ("&amp;", "&"),
]


@operator("text.html_extract")
def html_extract(spark: SparkSession, inputs, config, context) -> DataFrame:
    """HTML -> text extraction for raw-web ingest (the Common Crawl
    WET-style step a pretraining pipeline runs before any dedup/quality
    pass): drop non-content blocks (script/style/comments), turn
    structural close-tags into line breaks, strip every remaining tag,
    decode the common entities, and normalize whitespace.

    Pure JVM regexp/replace chain — one narrow pass, zero shuffle,
    scan-bound at 100 TB; every pattern is RE2-safe (no backreferences)
    so the exact chain re-derives in an engine-neutral oracle.
    Recovery-grade DOM parsing (malformed markup, CSS visibility,
    boilerplate classifiers) is a mapInPandas parser's job — this
    operator is the distributed plumbing + dominant-cost path, and
    `text.line_dedup` downstream handles boilerplate statistically.

    config: html_col; out (default f"{html_col}_text"); title_col
    (optional — extract the <title> into this column); keep_html
    (default False drops the raw markup column — at corpus scale the
    raw HTML is the widest column in the scan)."""
    df: DataFrame = inputs[0]
    c = config["html_col"]
    out_col = config.get("out", f"{c}_text")

    def _decode_entities(col):
        for ent, ch in _HTML_ENTITIES:
            col = F.replace(col, F.lit(ent), F.lit(ch))
        return col

    t = F.col(c)
    # non-content blocks first, so their text never reaches the output
    t = F.regexp_replace(t, r"(?is)<script\b[^>]*>.*?</script>", " ")
    t = F.regexp_replace(t, r"(?is)<style\b[^>]*>.*?</style>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    # block-structure boundaries become line breaks (line-oriented
    # downstream ops — line_dedup, repetition — need them)
    t = F.regexp_replace(
        t, r"(?i)<(?:br|/p|/div|/h[1-6]|/li|/tr|/title)[^>]*>", "\n"
    )
    t = F.regexp_replace(t, r"(?s)<[^>]*>", " ")
    t = _decode_entities(t)
    # whitespace normalization: runs of blanks -> one space, blank-
    # padded line breaks -> one newline, trim the ends
    t = F.regexp_replace(t, r"[ \t\r\f]+", " ")
    t = F.regexp_replace(t, r" ?\n ?", "\n")
    t = F.regexp_replace(t, r"\n+", "\n")
    # regex trim, not trim(): covers the boundary newlines too, with
    # identical semantics in Java regex and RE2
    t = F.regexp_replace(t, r"^\s+|\s+$", "")

    cols = {out_col: t}
    title_col = config.get("title_col")
    if title_col:
        cols[title_col] = F.regexp_replace(
            _decode_entities(
                F.regexp_extract(F.col(c), r"(?is)<title[^>]*>(.*?)<", 1)
            ),
            r"^\s+|\s+$", "",
        )
    out = df.withColumns(cols)
    if not config.get("keep_html", False):
        out = out.drop(c)
    return out


@operator("text.decontaminate")
def decontaminate(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Benchmark decontamination (the GPT-3-style n-gram overlap check):
    flag corpus documents sharing word k-shingles with a benchmark set.

    inputs: [corpus, benchmark]. Plan: the BENCHMARK's distinct shingles
    (bounded: eval sets are small by definition) broadcast; the corpus
    explodes its shingles once and counts hits via broadcast equi-join —
    linear in corpus tokens, the only shuffle is the per-doc groupBy of
    matched shingles. Output adds `n_overlap` + `contaminated`
    (n_overlap >= threshold, default 1).
    """
    corpus, bench = inputs[0], inputs[1]
    id_col, text_col = config["id_col"], config["text_col"]
    k = config.get("shingle_k", 8)
    threshold = config.get("threshold", 1)
    from ssis_to_pyspark_agent_spark.operators.dedup import _shingles

    bench_sh = F.broadcast(
        bench.select(
            F.explode(_shingles(F.col(config.get("bench_text_col", text_col)), k))
            .alias("_sh")
        ).distinct()
    )
    hits = (
        corpus.select(
            F.col(id_col).alias("_id"),
            F.explode(_shingles(F.col(text_col), k)).alias("_sh"),
        )
        .join(bench_sh, "_sh")
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    out = corpus.join(
        hits.withColumnRenamed("_id", id_col), id_col, "left"
    ).withColumn("n_overlap", F.coalesce("n_overlap", F.lit(0)))
    return out.withColumn("contaminated", F.col("n_overlap") >= threshold)


@operator("text.repetition")
def repetition(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1, public):
    the standard pretraining filters for boilerplate / degenerate text.

    Adds per-document columns:
    - ``dup_line_frac``       fraction of lines that are repeats of an
                              earlier identical line
    - ``dup_line_char_frac``  fraction of line characters inside those
                              repeated occurrences
    - ``top_{n}gram_char_frac``  (n in ``top_ns``, default [2,3,4]) chars
      covered by all occurrences of the single most frequent word n-gram,
      over the normalized text length
    - ``dup_{n}gram_char_frac``  (n in ``dup_ns``, default [5,10]) chars
      covered by occurrences of n-grams appearing >= 2 times, over the
      normalized text length

    Scale design: zero shuffle. Line stats are pure array expressions;
    n-gram stats sort each document's gram array and fold over the runs
    of equal grams. Most-frequent-gram ties don't matter: only
    count*len(gram) masses leave the fold. Denominator is the normalized
    text length, so the fractions are engine-reproducible with one
    integer division per column (exact-oracle-friendly: no float
    accumulation anywhere).

    Definitions follow the Gopher paper's intent but are pinned exactly
    as above (the paper leaves overlap handling unspecified; occurrences
    here count chars multiplicatively, overlaps uncollapsed).
    """
    df: DataFrame = inputs[0]
    text_col = config["text_col"]
    top_ns = list(config.get("top_ns", [2, 3, 4]))
    dup_ns = list(config.get("dup_ns", [5, 10]))
    line_sep = config.get("line_sep", "\n")

    import re as _re

    c = F.col(text_col)
    # ---- line stats: pure array ops, zero shuffle. F.split takes a
    # REGEX — escape the configured separator or a metacharacter sep
    # ('|', '.') silently shreds the text into per-character "lines"
    lines = F.split(c, _re.escape(line_sep))
    n_lines = F.size(lines)
    dlines = F.array_distinct(lines)
    chars = lambda a: F.aggregate(  # noqa: E731
        a, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    all_chars = chars(lines)
    out = df.withColumns(
        {
            "dup_line_frac": (n_lines - F.size(dlines)).cast("double")
            / F.greatest(n_lines, F.lit(1)).cast("double"),
            "dup_line_char_frac": (all_chars - chars(dlines)).cast("double")
            / F.greatest(all_chars, F.lit(1)).cast("double"),
        }
    )

    norm_len = F.length(_norm_text(c))
    den = F.greatest(norm_len, F.lit(1)).cast("double")

    def grams_arr(n: int) -> Column:
        # gram STRINGS are semantic here (mass = run * length(gram)), so
        # keep the concat form — but bind the word array first: the old
        # expression-tree reference re-ran the split per offset
        return _lambda_bind(
            _words(c),
            lambda w: F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size(w) - (n - 1), F.lit(1))
                ),
                lambda i: F.concat_ws(" ", F.slice(w, i, n)),
            ),
        )

    # ---- ZERO-shuffle per-doc sorted-run fold. Sorting the gram
    # multiset groups equal grams into adjacent runs; one aggregate fold
    # walks the runs and keeps (current-run length, best mass, duplicate
    # mass). An explode + two-groupBy formulation shuffles every token of
    # the corpus: measured 443s for 2M x 80-word docs vs 119s for this
    # fold, which scales per-executor with no shuffle at all.
    def run_fold(garr: Column, kind: str) -> Column:
        sg = F.array_sort(garr)
        init = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("acc"),
        )

        def flush(a: Column) -> Column:
            mass = a["run"] * F.length(a["prev"])
            if kind == "top":
                return F.greatest(a["acc"], mass)  # greatest skips null
            return a["acc"] + F.when(a["run"] >= 2, mass).otherwise(0)

        def step(a: Column, x: Column) -> Column:
            same = F.coalesce(a["prev"] == x, F.lit(False))
            return F.struct(
                x.alias("prev"),
                F.when(same, a["run"] + 1).otherwise(F.lit(1)).alias("run"),
                F.when(same, a["acc"]).otherwise(flush(a)).alias("acc"),
            )

        return F.aggregate(sg, init, step, flush)

    fracs = {}
    for n in top_ns:
        fracs[f"top_{n}gram_char_frac"] = (
            F.coalesce(run_fold(grams_arr(n), "top"), F.lit(0)).cast("double")
            / den
        )
    for n in dup_ns:
        fracs[f"dup_{n}gram_char_frac"] = (
            F.coalesce(run_fold(grams_arr(n), "dup"), F.lit(0)).cast("double")
            / den
        )
    return out.withColumns(fracs)


@operator("text.line_dedup")
def line_dedup(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Corpus-level boilerplate line removal (the CCNet / RefinedWeb
    pretraining step): a line whose DOCUMENT frequency across the corpus
    reaches ``min_df`` (default 2) is dropped from every document.

    Adds ``text_clean`` (boilerplate occurrences removed, original line
    order preserved), ``n_boilerplate_lines`` (occurrences dropped) and
    ``n_kept_lines``. A line repeated only WITHIN one document has
    df=1 and is kept — within-doc repetition is text.repetition's
    domain; this operator targets cross-document boilerplate (headers,
    footers, cookie banners).

    Plan: posexplode lines; distinct (line, doc) -> groupBy line for the
    df table; occurrences join df on the line (AQE picks broadcast when
    the df table is small, shuffle otherwise — at web scale it is NOT
    broadcastable and the shuffle is inherent to a corpus-global
    statistic); one groupBy per doc rebuilds the cleaned text from the
    position-sorted kept lines. Shuffle volume is line-level — the same
    class as any corpus-frequency computation.
    """
    df: DataFrame = inputs[0]
    id_col, text_col = config["id_col"], config["text_col"]
    sep = config.get("line_sep", "\n")
    min_df = config.get("min_df", 2)
    import re as _re

    occ = df.select(
        F.col(id_col).alias("_id"),
        # F.split takes a regex, array_join below takes a literal —
        # escape so both sides agree for metacharacter separators
        F.posexplode(
            F.split(F.col(text_col), _re.escape(sep))
        ).alias("_pos", "_line"),
    )
    dfreq = (
        occ.select("_line", "_id")
        .distinct()
        .groupBy("_line")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    tagged = occ.join(dfreq, "_line")
    kept = F.when(
        F.col("_df") < min_df,
        F.struct(F.col("_pos").alias("p"), F.col("_line").alias("l")),
    )
    agg = tagged.groupBy("_id").agg(
        F.sum(F.when(F.col("_df") >= min_df, 1).otherwise(0))
        .cast("int")
        .alias("n_boilerplate_lines"),
        F.sum(F.when(F.col("_df") < min_df, 1).otherwise(0))
        .cast("int")
        .alias("n_kept_lines"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept)), lambda s: s["l"]
            ),
            sep,
        ).alias("text_clean"),
    )
    return df.join(agg.withColumnRenamed("_id", id_col), id_col, "left")


def _record_bucket_rows(context, hist: dict) -> None:
    """Planner-histogram telemetry for tests/probes. The bare key is
    last-writer-wins (direct operator invocations have no step name);
    inside a pipeline the runner publishes ``_current_step`` and the
    histogram ALSO lands under ``_pack_bucket_rows:<step>`` so two pack
    steps in one pipeline keep distinct telemetry."""
    context["_pack_bucket_rows"] = hist
    step = context.get("_current_step")
    if step:
        context[f"_pack_bucket_rows:{step}"] = hist


#: text.pack's quantile re-bucketing: fine histogram buckets per
#: partition at each zoom level, and the most zoom levels it descends.
_PACK_FAN = 256
_PACK_MAX_DEPTH = 6


@operator("text.pack")
def text_pack(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Sequence packing for pretraining (the concat-and-chunk scheme:
    concatenate all documents in a fixed order, slice the token stream
    every `capacity` tokens): assigns each doc its global token offset
    and the chunk range it lands in.

    The global prefix sum is TWO-PHASE, never a single-partition global
    window: rows map to ordered partitions by DETERMINISTIC equal-width
    bucketing of the numeric `order_col` (width_bucket over the
    min..max span — a pure function of the row, stable across plan
    recomputes, so no cache is needed to keep phase 2 consistent with
    the phase-1 per-partition totals, and the operator holds NO
    session-outliving persist); per-partition window cumsums run in
    parallel, and the tiny per-bucket totals are collected to the
    driver (bounded by `partitions`) and added back as one array
    literal. Bucket skew from sparse/clustered ids affects only
    balance, never correctness — and when the phase-1 aggregate shows a
    bucket holding > 4/n_part of the rows, the operator automatically
    re-buckets on exact-histogram quantiles (256 fine buckets per
    partition, zoomed at most 6 levels) so snowflake-style sparse ids
    still pack in parallel.

    config: id_col, count_col (precomputed token count — chain
    text.token_count upstream), capacity, order_col (default id_col —
    NUMERIC and unique, it defines the concatenation order),
    partitions (prefix-sum buckets, default spark.sql.shuffle.
    partitions), emit:
      'docs'   (default) -> input + tok_offset, first_chunk, last_chunk
               (bigint — int chunk ids would wrap past 2^31 chunks,
               reachable at the 100 TB design point), n_chunks
               (zero-count docs get n_chunks=0, NULL chunks)
      'chunks' -> one row per (doc, chunk): chunk_id, id, doc_tok_start,
               doc_tok_end (token slice of the doc inside that chunk)
      'text'   -> the packed sequences themselves: (chunk_id, text,
               n_tokens). Requires `text_col`; tokenization is the
               normalized whitespace split (count_col is ignored —
               offsets must agree with the slicer's own token count).
               This mode shuffles document text by chunk_id — the
               inherent cost of materializing packed sequences.

    Reference has no counterpart — NEW per SURVEY §2.12.
    """
    from pyspark.sql import Window

    df: DataFrame = inputs[0]
    id_col = config["id_col"]
    cnt_col = config["count_col"]
    order_col = config.get("order_col", id_col)
    cap = int(config["capacity"])
    if cap <= 0:
        raise ValueError("capacity must be > 0")
    emit = config.get("emit", "docs")
    if emit not in ("docs", "chunks", "text"):
        raise ValueError(
            f"emit must be 'docs', 'chunks' or 'text', got {emit!r}"
        )
    if emit == "text":
        text_col = config["text_col"]
        # array_remove drops the [''] that _words yields for empty /
        # whitespace-only docs, so they count 0 tokens — matching
        # text.token_count's ws_tokens and the docs/chunks modes — and
        # contribute nothing to packed chunks (the slicer below uses
        # the same filtered array, keeping offsets and slices aligned)
        df = df.withColumn(
            "_cnt_pack", F.size(F.array_remove(_words(F.col(text_col)), ""))
        )
        cnt_col = "_cnt_pack"
    n_part = int(
        config.get("partitions")
        or spark.conf.get("spark.sql.shuffle.partitions", "200")
    )

    bounds = df.agg(
        F.min(order_col).alias("mn"), F.max(order_col).alias("mx")
    ).collect()[0]
    if bounds["mn"] is None:
        pid = F.lit(1)
        mn = mx = 0
    else:
        try:
            # floor, NOT int(): int() truncates toward zero, so a
            # negative fractional min (e.g. -3.5 -> -3) would leave
            # values below it in width_bucket's underflow bucket 0,
            # where element_at(offsets, 0) errors (SQL arrays are
            # 1-based) instead of packing
            mn, mx = math.floor(bounds["mn"]), math.floor(bounds["mx"])
        except (TypeError, ValueError):
            raise ValueError(
                "text.pack needs a NUMERIC order_col (deterministic "
                "width_bucket partitioning) — project one first"
            )
        pid = F.width_bucket(
            F.col(order_col), F.lit(mn), F.lit(mx + 1), F.lit(n_part)
        ).cast("int")
    cols = (
        [id_col, order_col, cnt_col] if order_col != id_col
        else [id_col, cnt_col]
    )
    slim = df.select(*cols).withColumn("_pid", pid)
    stats = {
        r["_pid"]: (r["_n"], r["_s"] or 0)
        for r in slim.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_n"), F.sum(cnt_col).alias("_s"))
        .collect()
    }
    total_rows = sum(n for n, _ in stats.values())
    max_rows = max((n for n, _ in stats.values()), default=0)
    if (
        n_part > 1
        and mx > mn
        and total_rows > 0
        and max_rows * n_part > 4 * total_rows
    ):
        # Equal-width bucketing collapsed under a sparse/clustered
        # order_col (snowflake-style ids: dense clusters separated by
        # huge gaps) — one bucket holds > 4/n_part of the rows and its
        # window cumsum degrades toward a single-partition sort.
        # Re-bucket on QUANTILES, still deterministic (quantiles come
        # from exact histogram aggregates, never sampling — invariant
        # 14 stays moot): a fine equal-width histogram counts rows per
        # `_PACK_FAN * n_part` buckets, and any bucket still
        # holding more than a partition's share zooms — level by level,
        # ONE aggregate per zoom level covering ALL still-overfull
        # buckets at once (a per-bucket recursion would launch up to
        # n_part full-input jobs per level), depth-capped — until
        # leaves are splittable. The driver greedily packs the in-order
        # leaves into row-balanced groups; pid is a pure nested
        # width_bucket/array-lookup expression (a function of the row
        # value and collected exact aggregates only, stable across
        # recomputes). Coarse token sums derive from the same leaf
        # aggregates, so offsets need no further pass. In emit='text'
        # mode the 2-column planning projection is cached for the
        # (bounded, eager) planning phase only, so each level does NOT
        # re-tokenize the corpus; for plain numeric counts the narrow
        # recompute is cheaper than materializing a 2-column cache
        # (measured 47s vs 33s at 20M rows), so no cache is taken.
        target = total_rows / n_part

        def _wb(lo: float, hi: float, k: int):
            raw = F.width_bucket(
                F.col(order_col), F.lit(lo), F.lit(hi), F.lit(k)
            )
            # clamp: a zoomed range's float edges may disagree with the
            # parent bucket's membership by an ulp — rows stay in-range
            return F.least(F.greatest(raw, F.lit(1)), F.lit(k)).cast("int")

        plan_src = df.select(F.col(order_col), F.col(cnt_col))
        plan_cached = emit == "text"
        if plan_cached:
            plan_src = plan_src.persist()
        try:
            k0 = n_part * _PACK_FAN
            root = {"lo": float(mn), "hi": float(mx + 1), "k": k0,
                    "filt": None, "children": None}
            frontier = [root]
            depth = 1
            while frontier:
                # ONE aggregate for the whole level: tag each row with
                # (node index, sub-bucket) via when-chains over the
                # frontier nodes' membership exprs
                if len(frontier) == 1:
                    nd = frontier[0]
                    src = plan_src
                    if nd["filt"] is not None:
                        src = src.filter(nd["filt"])
                    rows = src.select(
                        F.lit(0).alias("_nx"),
                        _wb(nd["lo"], nd["hi"], nd["k"]).alias("_b"),
                        F.col(cnt_col),
                    )
                else:
                    nx = F.lit(None).cast("int")
                    for i in reversed(range(len(frontier))):
                        nx = F.when(frontier[i]["filt"], F.lit(i)).otherwise(nx)
                    rows = (
                        plan_src.withColumn("_nx", nx)
                        .filter(F.col("_nx").isNotNull())
                    )
                    bexpr = F.lit(None).cast("int")
                    for i, nd in reversed(list(enumerate(frontier))):
                        bexpr = F.when(
                            F.col("_nx") == i,
                            _wb(nd["lo"], nd["hi"], nd["k"]),
                        ).otherwise(bexpr)
                    rows = rows.select("_nx", bexpr.alias("_b"), F.col(cnt_col))
                hd = {
                    (r["_nx"], r["_b"]): (r["_n"], r["_s"] or 0)
                    for r in rows.groupBy("_nx", "_b")
                    .agg(
                        F.count(F.lit(1)).alias("_n"),
                        F.sum(cnt_col).alias("_s"),
                    )
                    .collect()
                }
                nxt = []
                for i, nd in enumerate(frontier):
                    children = []
                    w = (nd["hi"] - nd["lo"]) / nd["k"]
                    for b in range(1, nd["k"] + 1):
                        n_b, s_b = hd.get((i, b), (0, 0))
                        if n_b > target and depth < _PACK_MAX_DEPTH:
                            sub_f = _wb(nd["lo"], nd["hi"], nd["k"]) == b
                            if nd["filt"] is not None:
                                sub_f = nd["filt"] & sub_f
                            child = {
                                "lo": nd["lo"] + (b - 1) * w,
                                "hi": nd["lo"] + b * w,
                                "k": _PACK_FAN,
                                "filt": sub_f,
                                "children": None,
                            }
                            children.append(child)
                            nxt.append(child)
                        else:
                            children.append((n_b, s_b))
                    nd["children"] = children
                frontier = nxt
                depth += 1
        finally:
            if plan_cached:
                plan_src.unpersist()

        def _to_tuple(nd):
            return (
                nd["lo"], nd["hi"], nd["k"],
                [
                    ch if isinstance(ch, tuple) else _to_tuple(ch)
                    for ch in nd["children"]
                ],
            )

        tree = _to_tuple(root)[3]

        # greedy in-order pack of the leaves into <= n_part row-balanced
        # contiguous groups; group ids assigned by mutating leaves into
        # group ints, accumulating per-group row/token totals
        grp, acc_rows = 1, 0
        psums, crows = {}, {}

        def _assign(children):
            nonlocal grp, acc_rows
            out = []
            for ch in children:
                if len(ch) == 2:
                    n_b, s_b = ch
                    if acc_rows > 0 and acc_rows + n_b > target and grp < n_part:
                        grp += 1
                        acc_rows = 0
                    acc_rows += n_b
                    psums[grp] = psums.get(grp, 0) + s_b
                    crows[grp] = crows.get(grp, 0) + n_b
                    out.append(grp)
                else:
                    lo, hi, k, sub = ch
                    out.append((lo, hi, k, _assign(sub)))
            return out

        def _expr(lo, hi, k, children):
            wb = _wb(lo, hi, k)
            m = [c if isinstance(c, int) else -1 for c in children]
            e = F.element_at(F.lit(m), wb)
            for b, c in enumerate(children, start=1):
                if not isinstance(c, int):
                    e = F.when(wb == b, _expr(*c)).otherwise(e)
            return e

        assigned = _assign(tree)
        pid = _expr(float(mn), float(mx + 1), k0, assigned)
        slim = df.select(*cols).withColumn("_pid", pid)
        _record_bucket_rows(context, {
            k: v for k, v in crows.items() if v > 0
        })
    else:
        psums = {k: s for k, (_n, s) in stats.items()}
        _record_bucket_rows(context, {k: n for k, (n, _s) in stats.items()})
    # per-bucket prefix offsets as ONE array literal indexed by pid — a
    # per-partition CASE WHEN chain is O(P) branch evaluations per row
    # and overflows Catalyst codegen at large partition counts
    offsets, acc = [], 0
    for b in range(1, max(psums, default=1) + 1):
        offsets.append(acc)
        acc += psums.get(b) or 0
    pref_col = F.element_at(
        F.array(*[F.lit(o).cast("bigint") for o in offsets]), F.col("_pid")
    )

    w_in = Window.partitionBy("_pid").orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cnt = F.col(cnt_col).cast("bigint")
    offs = (
        slim.withColumn(
            "tok_offset",
            (F.coalesce(F.sum(cnt_col).over(w_in), F.lit(0)) + pref_col).cast(
                "bigint"
            ),
        )
        .withColumn(
            "first_chunk",
            F.when(cnt > 0, F.floor(F.col("tok_offset") / cap)).cast("bigint"),
        )
        .withColumn(
            "last_chunk",
            F.when(
                cnt > 0, F.floor((F.col("tok_offset") + cnt - 1) / cap)
            ).cast("bigint"),
        )
        .withColumn(
            "n_chunks",
            F.coalesce(
                F.col("last_chunk") - F.col("first_chunk") + 1, F.lit(0)
            ).cast("int"),
        )
        .select(id_col, "tok_offset", "first_chunk", "last_chunk", "n_chunks")
    )
    out = df.join(offs, id_col)
    if emit == "docs":
        return out.drop("_cnt_pack")
    # chunks: each doc contributes a token slice to every chunk it spans
    chunk = F.explode(
        F.when(
            F.col("n_chunks") > 0,
            F.sequence(F.col("first_chunk"), F.col("last_chunk")),
        ).otherwise(F.array().cast("array<bigint>")),
    ).alias("chunk_id")
    sel = [id_col, "tok_offset", F.col(cnt_col).cast("bigint").alias("_cnt"), chunk]
    if emit == "text":
        sel.append(text_col)
    ch = (
        out.select(*sel)
        .withColumn(
            "doc_tok_start",
            F.greatest(
                F.lit(0).cast("bigint"),
                F.col("chunk_id") * cap - F.col("tok_offset"),
            ),
        )
        .withColumn(
            "doc_tok_end",
            F.least(
                F.col("_cnt"),
                (F.col("chunk_id") + 1) * cap - F.col("tok_offset"),
            ),
        )
    )
    if emit == "chunks":
        return ch.select(id_col, "chunk_id", "doc_tok_start", "doc_tok_end")
    # emit == "text": slice each doc's token contribution and assemble
    # chunks in token order (one shuffle of text by chunk_id)
    piece = F.slice(
        F.array_remove(_words(F.col(text_col)), ""),
        F.col("doc_tok_start").cast("int") + 1,
        (F.col("doc_tok_end") - F.col("doc_tok_start")).cast("int"),
    )
    toks = F.flatten(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("tok_offset"), F.col("_p")))
            ),
            lambda st: st["_p"],
        )
    )
    return (
        ch.withColumn("_p", piece)
        .groupBy("chunk_id")
        .agg(
            F.array_join(toks, " ").alias("text"),
            F.size(toks).cast("int").alias("n_tokens"),
        )
    )


@operator("text.ngram_novelty")
def ngram_novelty(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Corpus-trained n-gram typicality — the quality-filter family CCNet
    implements with a KenLM perplexity: here the "LM" is an n-gram
    frequency table trained on the corpus itself (or a second `train`
    input), and the per-doc signals stay in exact integer/rational space
    (cross-engine ln() differs in final ulps, which would poison the
    bit-exact oracle hash — a log-prob column is deliberately absent).

    Adds per doc: ``n_ngrams``, ``rare_ngrams`` (train count <
    ``min_count``; self-trained, count < 2 means the gram exists nowhere
    else in the corpus), ``rare_frac``, ``mean_ngram_freq`` (average
    train count of the doc's grams — low for atypical text, high for
    boilerplate; both ends are filter signals). Docs with fewer than
    ``n`` tokens get zeros/NULL.

    Plan: gram arrays built narrowly (sequence+slice, as dedup.spans),
    ONE groupBy shuffle builds the corpus-global count table over
    64-bit gram hashes, one hash-keyed join back (AQE broadcasts the
    count table when small; at web scale the shuffle is inherent to a
    corpus-global statistic — the same class as text.line_dedup), one
    per-doc agg. Payloads never shuffle: (doc, hash8B) rows only.
    Self-trained (no second input), the count table drops its hapax
    tail before the join-back: a doc gram occurs >= 1 time in the
    corpus by construction, so absence from a count>=2 table means its
    count is EXACTLY 1 — coalescing missing to 1 keeps every output
    value identical while removing the (typically majority) singleton
    rows, often the difference between a broadcast join-back and a
    shuffle of every (doc, gram) row. With an external train corpus
    the inference fails (missing could be 0 or 1), so the full table
    is kept — exactness forbids the prune there.

    A second `train` input may use a different text column via
    ``train_text_col`` (default: ``text_col``); only that column is
    read from it.

    Reference has no counterpart — NEW per SURVEY §2.12.
    """
    df: DataFrame = inputs[0]
    self_trained = len(inputs) <= 1
    train: DataFrame = df if self_trained else inputs[1]
    id_col, text_col = config["id_col"], config["text_col"]
    train_text_col = config.get("train_text_col", text_col)
    n = int(config.get("n", 2))
    min_count = int(config.get("min_count", 2))

    def gram_arr(tcol: str) -> Column:
        # lambda-bound words + seed-chained multi-arg hash (NOTES
        # invariant 20 HOF corollary): the old expression-tree reference
        # re-ran the split per position and concat-allocated per gram
        return _lambda_bind(
            _words(F.col(tcol)),
            lambda w: F.when(
                F.size(w) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(w) - (n - 1)),
                    lambda i: F.xxhash64(
                        *[F.element_at(w, i + j) for j in range(n)]
                    ),
                ),
            ).otherwise(F.array().cast("array<bigint>")),
        )

    counts = (
        train.select(F.explode(gram_arr(train_text_col if not self_trained else text_col)).alias("_g"))
        .groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    if self_trained:
        counts = counts.filter(F.col("_c") >= 2)
    missing = 1 if self_trained else 0
    per_doc = (
        df.select(F.col(id_col).alias("_id"), F.explode(gram_arr(text_col)).alias("_g"))
        .join(counts, "_g", "left")
        .withColumn("_c", F.coalesce(F.col("_c"), F.lit(missing)))
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ngrams"),
            F.sum(F.when(F.col("_c") < min_count, 1).otherwise(0))
            .cast("bigint")
            .alias("rare_ngrams"),
            (F.sum("_c").cast("double") / F.count(F.lit(1))).alias(
                "mean_ngram_freq"
            ),
        )
        .withColumn(
            "rare_frac",
            F.col("rare_ngrams") / F.col("n_ngrams").cast("double"),
        )
    )
    out = df.join(per_doc.withColumnRenamed("_id", id_col), id_col, "left")
    return out.withColumns(
        {
            "n_ngrams": F.coalesce(F.col("n_ngrams"), F.lit(0)),
            "rare_ngrams": F.coalesce(F.col("rare_ngrams"), F.lit(0)),
        }
    )


# Fixed-point log table for text.lm_score. Conditional probabilities are
# quantized to a 1/LM_QGRID grid with INTEGER arithmetic, then the log2
# comes from this table — computed ONCE here with driver-side Python and
# embedded as the same literal in the Spark plan and the DuckDB oracle
# SQL, so the score never touches an engine's libm (cross-engine ln()
# differs in final ulps, which is exactly why ngram_novelty has no
# log-prob column). LM_ILOG[q-1] = round(LM_SCALE * log2(LM_QGRID / q)):
# the information content of probability q/LM_QGRID in 1/LM_SCALE-bit
# units ("millibits"). LM_ILOG[LM_QGRID-1] = 0, LM_ILOG[0] = 11 * 1024.
LM_QGRID = 2048
LM_SCALE = 1024
LM_ILOG: list[int] = [
    round(LM_SCALE * math.log2(LM_QGRID / q)) for q in range(1, LM_QGRID + 1)
]


@operator("text.lm_score")
def lm_score(spark: SparkSession, inputs, config, context) -> DataFrame:
    """N-gram LM cross-entropy scoring in exact fixed point — the CCNet /
    RedPajama quality filter (score web docs by a KenLM trained on a clean
    corpus; keep the low-perplexity tail). The model is an order-``n``
    LM with add-one smoothing over the train corpus (``inputs[1]``, or
    the corpus itself):

        p(w_i | ctx) = (c_ngram + 1) / (c_ctx + V)

    with V = |distinct train tokens| (the classic vocabulary size)
    — a RATIONAL number, quantized to q = floor(LM_QGRID * p) in pure
    integer arithmetic, then mapped to fixed-point bits via the LM_ILOG
    literal (module docstring above). Every per-doc output is therefore
    engine-exact: ``lm_ngrams`` (scored n-grams), ``lm_oov`` (grams with
    train count 0 — always 0 self-trained), ``lm_bits_fp`` (sum of
    fixed-point information, bigint; high = surprising/noisy text, the
    Gopher/CCNet "head" cut keeps low), and ``lm_bpt`` (bits per token,
    double — the ONLY float, an IEEE-exact bigint/bigint division both
    engines round identically). Docs with < n tokens: zeros + NULL bpt.

    Plan — the DOC stream (the 100 TB side) pays ONE hash per gram and
    ONE join: the train side builds the per-gram stats by joining
    context totals into the distinct-gram counts frame (counts-sized
    work, never stream-sized), and V is the classic vocab size
    (distinct train tokens, one map-side-combined pass over token
    hashes) kept in-plan as a 1-row broadcast.

    Self-trained, the stats table is pruned by QUANTIZATION-FLOOR
    COLLAPSE (round-9, generalizing the ngram_novelty hapax inference
    from values to SCORES): a doc gram occurs >= 1 time by
    construction, so absence from the table implies (c=1, cc=1) and the
    fallback score q_fb = (2*QGRID) div (1+V). But the 1/QGRID grid
    cannot distinguish MOST real (c, cc) pairs from that floor either —
    for V > 2*QGRID every gram with (c+1)*QGRID < (cc+V) also lands on
    q = 1 = q_fb — so the table keeps only rows whose QUANTIZED score
    differs from q_fb, exactness preserved by integer-equality
    construction. On a Zipf(50k-vocab)+boilerplate 1M-doc corpus this
    is 21.8M distinct grams -> 40,703 rows (536x), the table drops
    under the AQE broadcast threshold at runtime, and the doc-side join
    becomes a broadcast hash join (verified in the final adaptive
    plan): the 100 TB gram stream is never shuffled OR sorted (the
    prior SortMergeJoin sorted all 79M gram rows). Two more exact cuts
    ride along self-trained: the prune's row-level NECESSARY condition
    (cc >= c, see the code comment) runs before the counts->ctx join so
    the counts-sized frame never reshuffles on _ctx, and for n=2 the
    vocabulary is folded into the context table (contexts are unigram
    hashes; an extended final position per doc makes them cover every
    token, so V = |ctx_tab| and the third corpus scan disappears).
    Measured fresh-session A/B at 2M docs on a noisy shared host, min
    of 8-9 alternating runs each: 104.2s -> 58.9s (1.77x; medians 129
    -> 118 under heavy steal), outputs bit-identical
    (tools/lm_decomp.py at commit e6f68f3). The surviving cost is the
    counts groupBy (stream-sized partial agg, the exact-model floor) and
    the doc-side explode+aggregate. With an extreme vocabulary (V < QGRID) or an
    all-boilerplate corpus the surviving table is genuinely large and
    AQE falls back to the SMJ plan — graceful, not wrong. With an
    external train corpus nothing is inferable from absence (and
    c == 0 must stay visible as lm_oov), so that mode keeps the two
    join-backs (c -> 0, cc -> 0) un-pruned. A round-10 restructure
    (precompute q train-side so the stream joins stats once; prune the
    OOV ctx lookup by the quantization floor) was built, verified
    bit-identical, MEASURED, and reverted: fresh-session alternating
    A/Bs at 2M docs lost in every regime — n=2 wash inside host noise,
    n=3 train=docs mins 254.5s vs 238.8s old, n=3 docs=10x train (the
    CCNet shape) 63.4s vs 56.5s old — because the stream explode +
    per-doc aggregate is the floor and the fused stats build re-shuffles
    the gram-sized counts on the skewed _ctx; probes ext_old/ext_new
    of tools/lm_decomp.py at commit e6f68f3 keep the harness (PLANS.md
    round-10).
    The plan is fully lazy (zero jobs at invocation): AQE broadcasts
    the pruned stats table at runtime from its post-shuffle size. A
    first-cut formulation hashed ctx and nxt separately per position on
    BOTH sides — the double hashing alone was ~2x the single-hash
    stream (measured 46.2s vs 21.4s for the 31.6M-gram count pass) and
    the doc side paid a second stream-sized SortMergeJoin for the ctx
    table; this shape removes both.

    config: id_col, text_col, n (default 2), train_text_col (column in
    the train input; default text_col).
    Reference has no counterpart — NEW per SURVEY §2.12.
    """
    df: DataFrame = inputs[0]
    self_trained = len(inputs) <= 1
    train: DataFrame = df if self_trained else inputs[1]
    id_col, text_col = config["id_col"], config["text_col"]
    train_text_col = config.get("train_text_col", text_col)
    n = int(config.get("n", 2))
    if n < 2:
        raise ValueError("text.lm_score: n must be >= 2 (context + next)")

    def _gh(w: Column, i: Column, m: int) -> Column:
        # seed-chained multi-arg xxhash64 over the m words at position i:
        # no per-position slice+concat allocation (2.3x on the train
        # pass), and word boundaries feed the running seed so
        # ("ab","c") vs ("a","bc") cannot collide the way a
        # separator-free concat would. `w` must be a lambda-BOUND
        # variable (see _lambda_bind) — an expression tree here
        # re-evaluates the split per element (measured 15x).
        return F.xxhash64(*[F.element_at(w, i + j) for j in range(m)])

    def gram_hashes(tcol: str) -> Column:
        # one multi-arg xxhash64 per position — the doc-stream join key
        return _lambda_bind(
            _words(F.col(tcol)),
            lambda w: F.when(
                F.size(w) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(w) - (n - 1)),
                    lambda i: _gh(w, i, n),
                ),
            ).otherwise(F.array().cast("array<bigint>")),
        )

    def gram_ctx_pairs(tcol: str) -> Column:
        # (gram_hash, ctx_hash) per position — train side (and the doc
        # side only under an external train corpus)
        return _lambda_bind(
            _words(F.col(tcol)),
            lambda w: F.when(
                F.size(w) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(w) - (n - 1)),
                    lambda i: F.struct(
                        _gh(w, i, n).alias("_g"),
                        _gh(w, i, n - 1).alias("_ctx"),
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<_g:bigint,_ctx:bigint>>")
            ),
        )

    def gram_ctx_pairs_ext(tcol: str) -> Column:
        # n == 2 only: positions 1..L, the FINAL position carrying
        # (_g = NULL, _ctx = hash of the last word). Contexts are then
        # unigram hashes covering EVERY token, so V = |ctx_tab| and the
        # separate vocabulary scan of the corpus disappears (the
        # all-empty doc, whose split is [""], is excluded like the old
        # vocab pass's _w != '' filter; _norm_text guarantees no other
        # empty tokens). Null-_g rows are excluded from counts'
        # scoring rows and from _cc, so c/cc are untouched.
        return _lambda_bind(
            _words(F.col(tcol)),
            lambda w: F.when(
                (F.size(w) > 1) | (F.element_at(w, 1) != ""),
                F.transform(
                    F.sequence(F.lit(1), F.size(w)),
                    lambda i: F.struct(
                        F.when(i < F.size(w), _gh(w, i, 2)).alias("_g"),
                        _gh(w, i, 1).alias("_ctx"),
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<_g:bigint,_ctx:bigint>>")
            ),
        )

    tcol = train_text_col if not self_trained else text_col
    folded_vocab = self_trained and n == 2
    pair_col = (gram_ctx_pairs_ext if folded_vocab else gram_ctx_pairs)(tcol)
    tg = train.select(F.explode(pair_col).alias("_p")).select(
        "_p._g", "_p._ctx"
    )
    counts = tg.groupBy("_g", "_ctx").agg(F.count(F.lit(1)).alias("_c"))
    if folded_vocab:
        ctx_tab = counts.groupBy("_ctx").agg(
            F.sum(F.when(F.col("_g").isNotNull(), F.col("_c"))
                  .otherwise(0)).alias("_cc")
        )
        vocab = ctx_tab.agg(F.count(F.lit(1)).alias("_v"))
    else:
        ctx_tab = counts.groupBy("_ctx").agg(F.sum("_c").alias("_cc"))
        tw = train.select(
            F.explode(_words(F.col(tcol))).alias("_w")
        ).filter(F.col("_w") != "")
        vocab = tw.agg(
            F.count_distinct(F.xxhash64(F.col("_w"))).alias("_v"))

    # quantized score as a Column; needs _v in scope (crossJoin vocab)
    def _q_col(num_sql: str) -> Column:
        return F.least(
            F.lit(LM_QGRID),
            F.greatest(F.lit(1), F.expr(num_sql).cast("int")),
        )

    q_row = _q_col(f"((_c + 1) * {LM_QGRID}) div (_cc + _v)")
    q_fb = _q_col(f"(2 * {LM_QGRID}) div (1 + _v)")  # absent => c=1, cc=1

    if self_trained:
        # quantization-floor prune (docstring): keep only grams whose
        # quantized score differs from the absent-gram fallback — the
        # left join's null path reproduces every pruned row EXACTLY.
        # The prune runs in TWO stages so the counts->ctx join never
        # shuffles the counts-sized frame: (1) a row-level necessary
        # condition using cc >= c (a gram's context total is at least
        # its own count): when V >= QGRID the fallback q is 1, and a
        # survivor needs (c+1)*QGRID >= 2*(cc+V) >= 2*(c+V), so any row
        # with (c+1)*(QGRID/2) < c+V is PROVABLY q = 1 = q_fb before cc
        # is known — on a Zipf corpus that is ~99.8% of distinct grams;
        # (2) the exact q != q_fb filter after joining cc onto the tiny
        # surviving head. When V < QGRID (extreme small-vocab corpora)
        # stage 1 keeps everything and stage 2 alone decides — still
        # exact, just un-pruned.
        hot = (
            counts.where(F.col("_g").isNotNull())
            .crossJoin(F.broadcast(vocab))
            .filter(
                F.when(
                    F.col("_v") >= F.lit(LM_QGRID),
                    (F.col("_c") + 1) * F.lit(LM_QGRID // 2)
                    >= F.col("_c") + F.col("_v"),
                ).otherwise(F.lit(True))
            )
        )
        qtab = (
            hot.join(ctx_tab, "_ctx")
            .withColumn("_q", q_row)
            .filter(F.col("_q") != q_fb)
            .select("_g", "_q")
        )
        dg = df.select(
            F.col(id_col).alias("_id"),
            F.explode(gram_hashes(text_col)).alias("_g"),
        )
        scored = (
            dg.join(qtab, "_g", "left")
            .crossJoin(F.broadcast(vocab))
            .withColumn("_q", F.coalesce(F.col("_q"), q_fb))
            .withColumn("_bits", F.element_at(F.lit(LM_ILOG), F.col("_q")))
        )
        # self-trained: every doc gram has c >= 1 by construction
        oov = F.sum(F.lit(0)).cast("bigint")
    else:
        dg = df.select(
            F.col(id_col).alias("_id"),
            F.explode(gram_ctx_pairs(text_col)).alias("_p"),
        ).select("_id", "_p._g", "_p._ctx")
        joined = (
            dg.join(counts.select("_g", "_c"), "_g", "left")
            .withColumn("_c", F.coalesce(F.col("_c"), F.lit(0)))
            .join(ctx_tab, "_ctx", "left")
            .withColumn("_cc", F.coalesce(F.col("_cc"), F.lit(0)))
        )
        scored = (
            joined.crossJoin(F.broadcast(vocab))
            .withColumn("_q", q_row)
            .withColumn("_bits", F.element_at(F.lit(LM_ILOG), F.col("_q")))
        )
        oov = F.sum(F.when(F.col("_c") == 0, 1).otherwise(0)).cast("bigint")
    per_doc = scored.groupBy("_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("lm_ngrams"),
        oov.alias("lm_oov"),
        F.sum("_bits").cast("bigint").alias("lm_bits_fp"),
    )
    out = df.join(per_doc.withColumnRenamed("_id", id_col), id_col, "left")
    return out.withColumns(
        {
            "lm_ngrams": F.coalesce(F.col("lm_ngrams"), F.lit(0)),
            "lm_oov": F.coalesce(F.col("lm_oov"), F.lit(0)),
            "lm_bits_fp": F.coalesce(F.col("lm_bits_fp"), F.lit(0)),
            "lm_bpt": F.col("lm_bits_fp").cast("double")
            / (F.lit(float(LM_SCALE)) * F.col("lm_ngrams").cast("double")),
        }
    )


@operator("text.segment")
def segment(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Document segmentation — the chunking step in front of embedding /
    RAG / window-limited scoring pipelines: split each document into
    ordered segments and emit one row per segment.

    modes:
      'paragraph'   — split on ``pattern`` (default blank lines
                      ``\\n\\s*\\n+``); segments are trimmed and empty
                      ones dropped BEFORE indexing, so seg_idx is dense;
      'sentence'    — maximal runs ending at [.!?]+ (char-class regex
                      only: Java and RE2 agree — no lookbehind, which
                      RE2 lacks);
      'fixed_words' — n-word windows (``n``, default 64) over raw
                      whitespace tokens; the last window may be short.

    Adds seg_idx (0-based, dense), seg_text, seg_tokens (whitespace
    token count). Pure JVM array expressions + one posexplode — zero
    shuffle at any scale; the corpus streams through once.

    A document whose text is NULL, empty, or all-whitespace produces
    ZERO segments and by default VANISHES from the output (inner
    posexplode) — funnel-style doc counts over segment output must
    count upstream, or pass ``keep_empty=True`` (posexplode_outer) to
    keep one row per empty doc with NULL seg_idx/seg_text and
    seg_tokens 0 (ADVICE round 5).

    Reference has no counterpart (nearest: Term Extraction,
    data_engineering_parser.py:1131) — NEW per SURVEY §2.12.
    """
    df: DataFrame = inputs[0]
    c = F.col(config["text_col"])
    mode = config.get("mode", "paragraph")
    if mode == "paragraph":
        pattern = config.get("pattern", r"\n\s*\n+")
        parts = F.split(c, pattern)
    elif mode == "sentence":
        parts = F.regexp_extract_all(c, F.lit(r"[^.!?]+[.!?]*"), 0)
    elif mode == "fixed_words":
        n = int(config.get("n", 64))
        if n <= 0:
            raise ValueError("text.segment: n must be positive")
        parts = _lambda_bind(
            F.filter(F.split(c, r"\s+"), lambda x: x != ""),
            lambda words: F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(
                        F.ceil(F.size(words) / F.lit(n)).cast("int"),
                        F.lit(1),
                    ) - 1,
                ),
                lambda j: F.concat_ws(" ", F.slice(words, j * n + 1, n)),
            ),
        )
    else:
        raise ValueError(
            f"text.segment: mode must be 'paragraph', 'sentence' or "
            f"'fixed_words', got {mode!r}"
        )
    segs = F.filter(
        F.transform(parts, lambda x: F.trim(x)), lambda x: x != ""
    )
    explode = (
        F.posexplode_outer if config.get("keep_empty", False)
        else F.posexplode
    )
    out = df.select("*", explode(segs).alias("seg_idx", "seg_text"))
    return out.withColumn(
        "seg_tokens",
        F.when(F.col("seg_text").isNull(), F.lit(0))
        .otherwise(
            F.size(F.filter(F.split(F.col("seg_text"), r"\s+"),
                            lambda x: x != ""))
        )
        .cast("int"),
    )
