"""Text analysis for training-data pipelines: tokenization, language ID,
quality scoring, fingerprinting.

All pure Column expressions (JVM, codegen) — zero Python in the row
path. At 100 TB these are embarrassingly parallel map stages: no
shuffle, no state, scale linearly with input splits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from exosql_spark.cache import managed_persist

# --------------------------------------------------------------------
# SQL-text fragments (r18 optimization round, guide §1.2): the quality
# and lang-id column programs below re-build a few-hundred-node tree
# through the Column API on every query construction (~0.2 s of py4j
# round trips each — see the block comment at dedup._sql_ident for the
# measurement), and their Column forms re-INLINE the tokenize subtree
# at every reference (interpreted HOFs, no CSE). The SQL-text forms
# cost one round trip to build and let-bind the token array once per
# row via the transform(array(x), ...)[0] encoding — identical values,
# pinned by TestSqlTextBuilderEquivalence.
# --------------------------------------------------------------------


def _sql_ident(name: str) -> str:
    """Backtick-quote a column name for embedding in SQL text."""
    return "`" + name.replace("`", "``") + "`"


#: tokens(c) on the RAW text: whitespace-split, empties dropped (the
#: doubled backslashes survive SQL string-literal unescaping to reach
#: the regex engine as ``\s+``).
_RAW_TOKS_SQL = "filter(split(trim({c}), '\\\\s+'), t -> t != '')"


# --------------------------------------------------------------------
# Tokenization
# --------------------------------------------------------------------

#: Whitespace tokenizer — split on runs of whitespace, drop empties.
def tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


#: BPE-ish subword segmenter: words, numbers, and single punctuation
#: marks each count as a token (regexp-based approximation of a
#: GPT-style pre-tokenizer).
_BPEISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count_ws(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def token_count_bpeish(col: Column | str) -> Column:
    """Pre-tokenizer-style token count (words / numbers / punct marks)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(_BPEISH_RE), 0))


# --------------------------------------------------------------------
# Quality scoring — length / punctuation / stopword / repetition ratios
# (the classic Gopher/C4-style cheap filters).
# --------------------------------------------------------------------

_STOPWORDS_EN = (
    "the a an and or of to in is are was were be been it this that with "
    "for on as at by from not".split()
)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append cheap quality-filter features to a documents DataFrame.

    SQL-text columns with the token array let-bound per column (r18 —
    see the module-top block comment): same values as the Column form
    (pinned by TestSqlTextBuilderEquivalence), one py4j round trip per
    column instead of ~0.2 s of composition, and the tokenize subtree
    evaluates once per row instead of once per reference."""
    c = _sql_ident(text_col)
    toks = _RAW_TOKS_SQL.format(c=c)

    def over_toks(body: str) -> F.Column:  # let-bind toks once per row
        return F.expr(f"transform(array({toks}), toks -> {body})[0]")

    return df.select(
        "*",
        F.length(F.col(text_col)).alias("q_n_chars"),
        F.expr(f"size({toks})").alias("q_n_tokens"),
        over_toks(
            f"round(length({c}) / greatest(size(toks), 1), 4)"
        ).alias("q_avg_token_len"),
        F.expr(
            f"round(size(regexp_extract_all({c}, '[^\\\\w\\\\s]', 0))"
            f" / greatest(length({c}), 1), 4)"
        ).alias("q_punct_ratio"),
        over_toks(
            "round(size(filter(toks, t -> lower(t) in ("
            + ", ".join(f"'{w}'" for w in _STOPWORDS_EN)
            + "))) / greatest(size(toks), 1), 4)"
        ).alias("q_stopword_ratio"),
        over_toks(
            "round(size(array_distinct(toks)) / greatest(size(toks), 1), 4)"
        ).alias("q_distinct_ratio"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Single [0,1] quality score: penalize very short docs, low stopword
    density, and heavy repetition (1 - distinct ratio)."""
    feat = quality_features(df, text_col)
    length_ok = F.least(F.col("q_n_tokens") / F.lit(20.0), F.lit(1.0))
    stop_ok = F.least(F.col("q_stopword_ratio") / F.lit(0.2), F.lit(1.0))
    rep_ok = F.col("q_distinct_ratio")
    return feat.withColumn(
        "quality", F.round((length_ok + stop_ok + rep_ok) / 3.0, 4)
    )


# --------------------------------------------------------------------
# Language ID — stopword-hit heuristic over a tiny per-language lexicon.
# (Real pipelines use fastText; this is the dependency-free n-gram/
# lexicon heuristic, good enough to route documents.)
# --------------------------------------------------------------------

_LANG_LEXICON: dict[str, list[str]] = {
    "en": "the and of to in is it you that was for are with his they at".split(),
    "es": "el la de que y en un ser se no por con para como su al lo".split(),
    "fr": "le la de et les des en un du une que est pour qui dans ce il".split(),
    "de": "der die und in den von zu das mit sich des auf für ist im nicht".split(),
    "zh": "的 一 是 不 了 人 我 在 有 他 这 中 大 来 上 国 个 到 说".split(),
}


def lang_id(col: Column | str) -> Column:
    """argmax of per-language lexicon hit-rates; 'und' when nothing hits.

    With a column NAME (str) this builds as ONE SQL-text expression
    (r18 — module-top block comment) that let-binds the lowercased
    token array AND the argmax struct, so the tokenize subtree and the
    array_max run once per row instead of once per reference (the
    Column form inlines toks into every per-language filter and the
    max struct into both output references). Same values — pinned by
    TestSqlTextBuilderEquivalence. Column input keeps the legacy form."""
    if isinstance(col, str):
        toks = _RAW_TOKS_SQL.format(c=_sql_ident(col))
        scored = ", ".join(
            "struct(size(filter(toks, t -> t in ("
            + ", ".join(f"'{w}'" for w in words)
            + f"))) / greatest(size(toks), 1) as score, '{lang}' as lang)"
            for lang, words in _LANG_LEXICON.items()
        )
        return F.expr(
            f"transform(array(transform({toks}, t -> lower(t))), toks -> "
            f"transform(array(array_max(array({scored}))), best -> "
            "case when best.score > 0 then best.lang else 'und' end)[0])[0]"
        )
    toks = F.transform(tokens(col), lambda t: F.lower(t))
    n = F.greatest(F.size(toks), F.lit(1))
    scored = F.array(
        *[
            F.struct(
                (F.size(F.filter(toks, lambda t: t.isin(*words))) / n).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang, words in _LANG_LEXICON.items()
        ]
    )
    best = F.array_max(scored)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


# --------------------------------------------------------------------
# Fingerprinting
# --------------------------------------------------------------------


def normalize_text(col: Column | str) -> Column:
    """Canonical form for hashing: lowercase, collapse whitespace, strip
    punctuation."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.regexp_replace(c, r"[^\w\s]", "")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def fingerprint_md5(col: Column | str) -> Column:
    """Content fingerprint: md5 of the normalized text (engine-portable —
    DuckDB computes the identical digest, so it's oracle-checkable)."""
    return F.md5(normalize_text(col))


_ROLL_MOD = (1 << 57) - 13  # keeps acc*31 + h inside signed-64 (ANSI-safe)


def _token_hash(t: Column) -> Column:
    """Engine-portable 60-bit token hash: first 15 hex digits of md5,
    taken mod M. md5 is bit-identical in Spark and DuckDB, so the
    rolling fingerprint below is oracle-checkable (xxhash64 is not)."""
    m = F.lit(_ROLL_MOD).cast("long")
    return F.pmod(F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"), m)


def fingerprint_rolling(col: Column | str) -> Column:
    """Polynomial rolling hash over tokens:
    ``h = (h*31 + token_hash(token)) mod M`` — order-sensitive (unlike
    a bag-of-words hash), one JVM pass via higher-order aggregate.
    Modular so ANSI overflow checking never trips: acc,h < M = 2^57-13
    keeps acc*31+h < 2^62."""
    toks = tokens(normalize_text(col))
    m = F.lit(_ROLL_MOD).cast("long")
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(acc * F.lit(31).cast("long") + _token_hash(t), m),
    )


# --------------------------------------------------------------------
# PII redaction — regex scrubbing for training corpora.
# --------------------------------------------------------------------

#: Patterns restricted to syntax Java regex and RE2 (DuckDB) treat
#: identically: no lookaround, no backreferences, \b/\d/character
#: classes only — so redaction is oracle-checkable across engines.
#: Phone matching is shape-anchored, not "any long digit run": the old
#: ``\+?\d[\d().-]{7,}\d`` redacted ISO dates (2026-08-13) and dotted
#: version/ID strings, corrupting ordinary text. Now either an
#: international ``+CC …`` number or a NANP 3-3-4 grouping, both
#: word-bounded so longer digit runs (order ids, hashes) pass through.
_PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": (
        r"\+\d{1,3}[ .-]?\(?\d{2,4}\)?[ .-]?\d{3,4}[ .-]?\d{2,4}\b"
        r"|\b\(?\d{3}\)?[ .-]?\d{3}[ .-]?\d{4}\b"
    ),
}


def _java_replacement(replacement: str) -> str:
    r"""Escape ``\`` and ``$`` so the replacement is spliced literally
    into Java's regexp_replace (both are group-reference syntax there)."""
    return replacement.replace("\\", "\\\\").replace("$", "\\$")


def pii_redact(col: Column | str, replacement: str = "[PII]") -> Column:
    """Scrub emails, IPv4 addresses, and phone-number-shaped digit
    runs from text — chained regexp_replace, one fused JVM pass, no
    UDF. Order matters: emails first (an address contains dots that
    would otherwise half-match the IP pattern). Real pipelines add
    NER-model scrubbing on top; this is the cheap always-on layer."""
    c = F.col(col) if isinstance(col, str) else col
    repl = _java_replacement(replacement)
    for pat in _PII_PATTERNS.values():
        c = F.regexp_replace(c, pat, repl)
    return c


def pii_redact_sql(expr: str, replacement: str = "[PII]") -> str:
    r"""The DuckDB-equivalent SQL for :func:`pii_redact` (the 'g' flag
    mirrors Spark's replace-all default). DuckDB string literals are
    not escape-processed, so backslashes pass through verbatim — but
    ``'`` must be doubled and ``\`` in the replacement escaped (RE2
    replacement treats ``\1`` as a group reference)."""
    repl_sql = replacement.replace("\\", "\\\\").replace("'", "''")
    for pat in _PII_PATTERNS.values():
        pat_sql = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{pat_sql}', '{repl_sql}', 'g')"
    return expr


def repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021
    §A1.1; the C4/Gopher quality-filter family):

    - ``distinct_word_ratio``: distinct words / total words (low =
      repetitive boilerplate)
    - ``top_word_frac``: occurrences of the most common word / total
      words
    - ``top_bigram_frac``: occurrences of the most common bigram /
      total bigrams (0.0 for single-word docs)

    Scale design: a single scan explodes unigrams AND bigrams in one
    pass (tagged structs), then two hash aggregations both keyed on
    the document id — no self-join of the corpus, no second scan, and
    the shuffle carries (id, token, count) triples, never documents.
    The per-token HOF alternative (``size(filter(w, ...))`` per
    distinct word) is O(len²) per document and was rejected.
    """
    w = F.split(F.col(text_col), " ")
    tagged = F.concat(
        F.transform(w, lambda x: F.struct(F.lit(0).alias("kind"), x.alias("tok"))),
        F.transform(
            F.zip_with(
                F.slice(w, 1, F.size(w) - 1),
                F.slice(w, 2, F.size(w) - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
            lambda x: F.struct(F.lit(1).alias("kind"), x.alias("tok")),
        ),
    )
    toks = df.select(
        F.col(id_col), F.explode(tagged).alias("_t")
    ).select(id_col, F.col("_t.kind").alias("kind"), F.col("_t.tok").alias("tok"))
    counts = toks.groupBy(id_col, "kind", "tok").agg(F.count(F.lit(1)).alias("n"))
    uni_n = F.when(F.col("kind") == 0, F.col("n"))
    bi_n = F.when(F.col("kind") == 1, F.col("n"))
    from exosql_spark.queries._util import fround

    return counts.groupBy(id_col).agg(
        fround(
            F.count(uni_n).cast("double") / F.sum(uni_n), 6
        ).alias("distinct_word_ratio"),
        fround(F.max(uni_n).cast("double") / F.sum(uni_n), 6).alias(
            "top_word_frac"
        ),
        F.coalesce(
            fround(F.max(bi_n).cast("double") / F.sum(bi_n), 6), F.lit(0.0)
        ).alias("top_bigram_frac"),
    )


# --------------------------------------------------------------------
# Line-level dedup (C4-style boilerplate removal)
# --------------------------------------------------------------------


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """C4-style boilerplate line removal: drop every line whose exact
    normalized copy appears in ≥ ``min_df`` DISTINCT documents
    (navigation chrome, cookie banners, license footers), then
    reassemble documents preserving line order. Returns (id, text)
    with the cleaned text; documents whose lines were all boilerplate
    come back as empty strings (callers drop them with a length gate).

    Scale shape: posexplode lines → shuffle 16-byte line digests for
    the document-frequency count → anti-join → one (id) shuffle to
    reassemble. Line *text* crosses the reassembly shuffle only —
    never the DF-count shuffle. All Column ops, no Python.
    """
    # persist: the DF-count aggregation and the anti-join both read this
    # frame — without the barrier the split+normalize+md5 pass runs twice
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("_pos", "_line"),
    ).withColumn("_h", F.md5(normalize_text(F.col("_line")))).transform(managed_persist)
    boiler = (
        lines.groupBy("_h")
        .agg(F.count_distinct(F.col(id_col)).alias("_df"))
        .filter(F.col("_df") >= min_df)
        .select("_h")
    )
    kept = lines.join(boiler, "_h", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("_pos"), F.col("_line")))
                ),
                lambda s: s["_line"],
            ),
            sep,
        ).alias(text_col)
    )
    # docs that lost every line still appear (empty text)
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .fillna({text_col: ""})
    )


# --------------------------------------------------------------------
# N-gram language-model scoring (CCNet-style perplexity proxy)
# --------------------------------------------------------------------


def lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 0.5,
) -> DataFrame:
    """Corpus-trained bigram LM score per document — the cheap
    perplexity-proxy quality signal (CCNet buckets corpora by KenLM
    perplexity; a corpus-self-trained add-k bigram model gives the
    same ranking signal with no external model):

        score(d) = mean over bigrams of log2 P(w_i | w_{i-1}),
        P(cur | prev) = (c(prev,cur) + k) / (c(prev) + k·V)

    Unusually-worded / garbled / wrong-language docs score low;
    boilerplate scores high. Returns (id, n_bigrams, lm_score) for
    documents with ≥ 1 bigram (≥ 2 tokens).

    Scale shape: two count aggregations (bigram, unigram — shuffles
    carry token strings once; at 100 TB hash them first), V and the
    training totals stay scalar, scoring is one join of doc bigrams
    against the count tables — counts are Zipf-concentrated so the
    join's build side is effectively the head of the vocabulary; AQE
    broadcast applies when it fits. Mean is decimal-stable (order-
    independent) so the result is engine-portable.
    """
    toks = tokens(normalize_text(F.col(text_col)))
    n = F.size(toks)
    # filter BEFORE the explode: sequence(1, n-1) at n < 2 would run
    # DESCENDING (Spark auto-picks step -1), not empty.
    # persist: FOUR consumers (bigram counts, unigram counts, vocab
    # size, scoring join) — without the barrier the regex tokenize +
    # explode re-executes per consumer.
    big = (
        df.filter(n >= 2)
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.struct(
                        F.element_at(toks, i).alias("prev"),
                        F.element_at(toks, i + 1).alias("cur"),
                    ),
                )
            ).alias("bg"),
        )
        .select(id_col, "bg.prev", "bg.cur")
        .transform(managed_persist)
    )
    c2 = big.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("_c2"))
    c1 = big.groupBy("prev").agg(F.count(F.lit(1)).alias("_c1"))
    v = big.select(F.count_distinct("cur").alias("_v"))
    logp = F.log2(
        (F.col("_c2") + F.lit(add_k))
        / (F.col("_c1") + F.lit(add_k) * F.col("_v"))
    )
    return (
        big.join(c2, ["prev", "cur"])
        .join(c1, "prev")
        .crossJoin(F.broadcast(v))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                F.sum(logp.cast("decimal(25,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("_m"),
        )
        .select(
            id_col,
            "n_bigrams",
            (F.floor(F.col("_m") * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)).alias(
                "lm_score"
            ),
        )
    )


# --------------------------------------------------------------------
# Repeated-span removal (ExactSubstr-style, Lee et al. 2022)
# --------------------------------------------------------------------


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Remove every token covered by a corpus-repeated span — the
    fixed-window relaxation of ExactSubstr dedup ("Deduplicating
    Training Data Makes Language Models Better", Lee et al. 2022):
    where the paper builds a suffix array to find variable-length
    repeats ≥ 50 tokens, this marks every ``span``-token window whose
    normalized L-gram occurs ≥ ``min_count`` times corpus-wide
    (cross-doc or within-doc) and drops ALL covered tokens. Catches
    templated boilerplate, licence blocks, and copy-pasted passages
    that line- and document-level dedup both miss.

    Returns (id, text, n_tokens_removed) with the reassembled
    normalized text (tokens joined by single spaces — same convention
    as line_dedup's rebuild).

    Scale shape: one narrow L-gram explode → count shuffle on the
    8-byte gram hash → semi-join back marks hit START positions → one
    groupBy(id) collects the (doc-length-bounded) hit array → kept
    tokens are decided per doc with pure Column math (exists() over
    the hit array — O(tokens × hits) inside the row, no further
    shuffle). Documents never cross the wire; only (hash, id, pos)
    longs do.
    """
    toks = tokens(normalize_text(F.col(text_col)))
    n = F.size(toks)
    base = df.select(F.col(id_col), toks.alias("_toks"), n.alias("_n")).transform(managed_persist)
    grams = base.filter(F.col("_n") >= span).select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("_n") - (span - 1)),
                lambda i: F.struct(
                    i.alias("pos"),
                    _token_hash(
                        F.array_join(F.slice("_toks", i, span), " ")
                    ).alias("h"),
                ),
            )
        ).alias("g"),
    ).select(id_col, "g.pos", "g.h").transform(managed_persist)  # 2 consumers: count + semi-join
    repeated = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("h")
    )
    hits = (
        grams.join(repeated, "h", "left_semi")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("pos")).alias("_hits"))
    )
    joined = base.join(hits, id_col, "left").withColumn(
        "_hits", F.coalesce("_hits", F.array().cast("array<int>"))
    )
    covered = lambda i: F.exists(
        F.col("_hits"), lambda p: (p <= i) & (i < p + span)
    )
    kept = F.filter(
        F.sequence(F.lit(1), F.col("_n")),
        lambda i: ~covered(i),
    )
    return joined.select(
        F.col(id_col),
        F.array_join(
            F.transform(kept, lambda i: F.element_at("_toks", i)), " "
        ).alias(text_col),
        (F.col("_n") - F.size(kept)).alias("n_tokens_removed"),
    )


def oov_rate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 1000,
) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus's own
    top-``vocab_size`` token vocabulary (lowercased whitespace tokens,
    ties at the cutoff broken by token text) — the cheap tokenizer-fit
    signal: a doc whose tokens mostly miss the vocabulary is boilerplate,
    another language, or noise the tokenizer will shred into bytes.

    Two-phase, both scale-shaped: (1) the vocabulary is a global
    top-k by frequency — ``orderBy().limit(k)`` compiles to
    TakeOrderedAndProject (per-partition heaps, no full sort) over one
    token-count shuffle; (2) membership scoring BROADCASTS the ≤k-row
    vocabulary to a hash join against the exploded tokens (O(1) per
    token), then re-aggregates per document.  Documents with zero
    tokens have no token rows and drop out (same in the SQL twin).

    Output: ``id_col``, ``n_tokens``, ``n_oov``, ``oov_ratio`` (4 dp).
    """
    tok = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("_t")
    ).select(id_col, F.lower(F.col("_t")).alias("tok"))
    vocab = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.col("_n").desc(), F.col("tok"))
        .limit(vocab_size)
        .select("tok", F.lit(1).alias("_in_vocab"))
    )
    scored = tok.join(F.broadcast(vocab), "tok", "left")
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_oov"),
        )
        .withColumn(
            "oov_ratio",
            F.round(F.col("n_oov") / F.col("n_tokens").cast("double"), 4),
        )
    )
