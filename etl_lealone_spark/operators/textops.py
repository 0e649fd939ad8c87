"""Text analysis operators for training-data pipelines.

BASELINE.json extension surface: language-ID, quality scoring, token
counting, document fingerprinting. All pure JVM expression trees
(replace/length/split/md5), no Python in the hot path — each is a
map-only column computation, shuffle-free at any scale.

Cross-engine note: heuristics avoid engine-specific regex classes; counts
use the replace-length trick (count(s, sub) = (len(s) - len(replace(s,
sub, ''))) / len(sub)) which is bit-identical everywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Tiny stopword marker sets per language — matched as ' word ' substrings.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "la", "que", "los", "es"],
}

EN_STOPWORDS = ["the", "and", "of", "to", "in", "is", "it", "that", "for", "on"]


def substr_count(col: Column, sub: str) -> Column:
    """Occurrences of ``sub`` in col — replace-length trick, engine-neutral."""
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(sub), F.lit(""))))
        / len(sub)
    ).cast("int")


def token_count(col: Column) -> Column:
    """Whitespace token count."""
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, "[ \\t\\n]+"))
    )


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token count: words + digits + punctuation runs.

    A cheap stand-in for a BPE tokenizer: splits letter runs longer than 4
    chars into ceil(len/4) pieces (BPE's ~4-chars-per-token heuristic) and
    counts punctuation as single tokens.
    """
    ws = F.split(F.trim(col), "[ \\t\\n]+")
    return F.aggregate(
        ws,
        F.lit(0),
        lambda acc, w: acc + F.greatest(F.ceil(F.length(w) / 4.0).cast("int"), F.lit(1)),
    )


def lang_markers_score(col: Column, lang: str) -> Column:
    """Marker-word hit count for one language over a padded lowercase text."""
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    score = F.lit(0)
    for wrd in LANG_MARKERS[lang]:
        score = score + substr_count(padded, f" {wrd} ")
    return score


def language_id(col: Column) -> Column:
    """Heuristic language ID: argmax of per-language marker counts.

    Deterministic tie-break by language code order; 'und' when no marker
    hits at all.
    """
    scores = [(lang, lang_markers_score(col, lang)) for lang in sorted(LANG_MARKERS)]
    best_score = F.greatest(*[s for _, s in scores])
    result = F.lit("und")
    # reversed so the FIRST language in sort order wins ties
    for lang, s in reversed(scores):
        result = F.when((s == best_score) & (best_score > 0), F.lit(lang)).otherwise(
            result
        )
    return result


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append quality-signal columns used by corpus filtering pipelines.

    Signals follow the public Gopher/C4-style rules: length, mean word
    length, punctuation-terminated-ness, stopword ratio, digit ratio.
    """
    c = F.col(text_col)
    padded = F.concat(F.lit(" "), F.lower(c), F.lit(" "))
    n_tokens = token_count(c)
    stop_hits = F.lit(0)
    for wrd in EN_STOPWORDS:
        stop_hits = stop_hits + substr_count(padded, f" {wrd} ")
    n_digits = F.length(c) - F.length(F.regexp_replace(c, "[0-9]", ""))
    n_punct = F.length(c) - F.length(F.regexp_replace(c, "[.,!?;:]", ""))
    return (
        df.withColumn("n_chars_m", F.length(c))
        .withColumn("n_tokens", n_tokens)
        .withColumn(
            "mean_word_len",
            F.round(
                F.length(F.regexp_replace(c, "[ \\t\\n]", "")).cast("double")
                / F.greatest(n_tokens, F.lit(1)),
                6,
            ),
        )
        .withColumn(
            "stopword_ratio",
            F.round(stop_hits.cast("double") / F.greatest(n_tokens, F.lit(1)), 6),
        )
        .withColumn(
            "digit_ratio",
            F.round(
                n_digits.cast("double") / F.greatest(F.length(c), F.lit(1)), 6
            ),
        )
        .withColumn(
            "punct_ratio",
            F.round(
                n_punct.cast("double") / F.greatest(F.length(c), F.lit(1)), 6
            ),
        )
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite 0-1 quality score from :func:`quality_features` signals."""
    feats = quality_features(df, text_col)
    score = (
        F.when(F.col("n_tokens").between(10, 100000), 0.25).otherwise(0.0)
        + F.when(F.col("mean_word_len").between(3, 12), 0.25).otherwise(0.0)
        + F.when(F.col("stopword_ratio") >= 0.05, 0.25).otherwise(0.0)
        + F.when(F.col("digit_ratio") <= 0.2, 0.25).otherwise(0.0)
    )
    return feats.withColumn("quality_score", F.round(score, 2))


def quality_filter(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Hard C4/Gopher-style keep/drop gate over the quality features.

    Keep iff: 10 ≤ tokens ≤ 100k, 3 ≤ mean word length ≤ 12, at least one
    English stopword, digit ratio ≤ 0.2 — the published heuristic family
    (C4: Raffel et al. 2020 §2.2; Gopher: Rae et al. 2021 Appendix A).
    Map-only: the gate is a single codegen'd predicate over the feature
    projection — at 100 TB this is one pass over the corpus, no shuffle.
    """
    return quality_features(df, text_col).filter(
        F.col("n_tokens").between(10, 100000)
        & F.col("mean_word_len").between(3, 12)
        & (F.col("stopword_ratio") > 0)
        & (F.col("digit_ratio") <= 0.2)
    )


def hash_sample(
    df: DataFrame,
    rates: dict[str, float],
    default_rate: float = 0.1,
    key_col: str = "doc_id",
    stratum_col: str = "lang",
) -> DataFrame:
    """Deterministic per-stratum sampling by content hash — the
    training-data mixing primitive (per-source/per-language rates).

    A row is kept iff ``md5(key) mod 10000 < rate*10000``. Hash-based
    selection is reproducible across runs, engines, and partitionings —
    unlike rand()-based TABLESAMPLE — so a 100 TB mixing job can be
    re-executed incrementally and yields the same corpus. Map-only, no
    shuffle; the md5-prefix trick keeps it bit-identical in any engine
    with md5 (first 8 hex chars → int, uniform over 2³²).
    """
    bucket = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 10000
    )
    keep = F.lit(False)
    rate_expr = F.lit(default_rate)
    for stratum, rate in sorted(rates.items()):
        rate_expr = F.when(F.col(stratum_col) == stratum, F.lit(rate)).otherwise(
            rate_expr
        )
    keep = bucket < (rate_expr * 10000).cast("bigint")
    return df.filter(keep)


def fingerprint(col: Column, prefix_chars: int = 64) -> Column:
    """Deterministic document fingerprint: md5 over the normalized prefix
    plus a coarse length bucket — a cheap rolling-hash stand-in that two
    engines can reproduce byte-for-byte."""
    normalized = F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " "))
    return F.md5(
        F.concat(
            F.substring(normalized, 1, prefix_chars),
            F.lit("|"),
            F.floor(F.length(normalized) / 32).cast("int").cast("string"),
        )
    )


# ---------------------------------------------------------------------------
# data-mixture rebalancing — compute per-group sampling weights FROM the
# corpus (vs hash_sample's caller-supplied rates), then resample
# ---------------------------------------------------------------------------
def mixing_weights(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """(grp, group_tokens, n_docs, weight): per-group sampling weight that
    equalizes the TOKEN budget across groups.

    ``w_g = min(1, (T/G) / t_g)`` — each group is down-sampled toward the
    uniform share T/G of the total token budget T over G groups (groups
    under budget keep weight 1). This is the mixture-rebalancing step of a
    training-data pipeline (cf. DoReMi-style domain reweighting, arXiv
    2305.10429, with a uniform target): two shuffles (group agg + scalar
    total), both over |G| rows, regardless of corpus size.

    Cross-engine exact: token counts and sums are integers; the weight is
    one left-associative double division chain, identical IEEE ops in any
    engine, rounded at 6dp on output only.
    """
    toks = df.select(
        F.col(group_col).alias("grp"), token_count(F.col(text_col)).alias("t")
    )
    g = toks.groupBy("grp").agg(
        F.sum("t").cast("bigint").alias("group_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    tot = g.agg(
        F.sum("group_tokens").cast("bigint").alias("tot_tokens"),
        F.count(F.lit(1)).alias("n_groups"),
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "grp",
        "group_tokens",
        "n_docs",
        F.round(
            F.least(
                F.lit(1.0),
                F.col("tot_tokens").cast("double")
                / F.col("n_groups")
                / F.col("group_tokens"),
            ),
            6,
        ).alias("weight"),
    )


def mix_resample(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Docs surviving token-budget rebalancing: keep a doc iff its md5
    bucket falls under its group's :func:`mixing_weights` weight.

    The weight table (|G| rows) broadcasts; selection is the same
    reproducible md5-bucket trick as :func:`hash_sample`, with the float
    weight converted to an INTEGER threshold (floor(w*1e6+0.5)) so the
    comparison itself is integer-exact in every engine. Map-only over the
    corpus — at 100 TB the only non-map work is the tiny group aggregate.
    """
    w = mixing_weights(df, group_col, text_col)
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 1000000
    )
    thresh = F.floor(F.col("weight") * 1000000.0 + 0.5).cast("bigint")
    return (
        df.join(F.broadcast(w), df[group_col] == w["grp"])
        .filter(bucket < thresh)
        .select(df[id_col], df[group_col])
    )


# -- model-based quality scoring (linear scorer, offline-trained) -----------
# Coefficients of a linear quality model (the shape of fastText/logreg
# corpus filters: weights learned offline, applied at scale as one
# map-only expression). Every feature is RATIONAL arithmetic (no
# exp/log — libm transcendentals differ in ULPs across engines), so the
# score is bit-identical in any engine and the DuckDB oracle recomputes
# it exactly. Saturation uses x/(x+k) instead of log, clamp instead of
# sigmoid — monotone equivalents with the same decision boundary family.
QUALITY_MODEL = {
    "bias": -0.35,
    "len_sat": 1.1,       # n_tokens/(n_tokens+100): saturating length
    "stopword_ratio": 2.4,
    "digit_ratio": -1.8,
    "punct_ratio": 0.9,
    "word_len_dev": -0.12,  # |mean_word_len - 5| distance from prose norm
}


def model_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Linear-model quality score in [0,1] (clamped), appended as
    ``model_score`` over the :func:`quality_features` columns."""
    w = QUALITY_MODEL
    feats = quality_features(df, text_col)
    z = (
        F.lit(w["bias"])
        + F.lit(w["len_sat"])
        * (F.col("n_tokens").cast("double") / (F.col("n_tokens") + F.lit(100)))
        + F.lit(w["stopword_ratio"]) * F.col("stopword_ratio")
        + F.lit(w["digit_ratio"]) * F.col("digit_ratio")
        + F.lit(w["punct_ratio"]) * F.col("punct_ratio")
        + F.lit(w["word_len_dev"]) * F.abs(F.col("mean_word_len") - F.lit(5.0))
    )
    return feats.withColumn(
        "model_score",
        F.round(F.greatest(F.lit(0.0), F.least(F.lit(1.0), z)), 6),
    )


def model_quality_score_sql(expr_prefix: str = "") -> str:
    """DuckDB SQL text computing ``model_score`` from the oracle's own
    feature columns (same names), matching :func:`model_quality_score`."""
    w = QUALITY_MODEL
    z = (
        f"({w['bias']!r} "
        f"+ {w['len_sat']!r} * (CAST(n_tokens AS DOUBLE) / (n_tokens + 100)) "
        f"+ {w['stopword_ratio']!r} * stopword_ratio "
        f"+ {w['digit_ratio']!r} * digit_ratio "
        f"+ {w['punct_ratio']!r} * punct_ratio "
        f"+ {w['word_len_dev']!r} * abs(mean_word_len - 5.0))"
    )
    return f"round(greatest(0.0, least(1.0, {z})), 6)"


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 4096,
    scale: int = 1_000_000,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Per-document corpus unigram log-probability (perplexity proxy).

    The CCNet-style fluency signal (Wenzek et al. 2020 use a KenLM
    5-gram; the scale-safe Spark form is the unigram LM over hashed
    token buckets): tokens hash into ``buckets`` buckets, each bucket
    gets a Laplace-smoothed corpus probability, and a document's score
    is the sum of its tokens' log-probs. Documents whose mean token
    log-prob is far below the corpus norm are gibberish / boilerplate
    candidates; unusually high means repetitive common-word text.

    Returns (id, n_tokens_lm, logprob_x1e6) — fixed-point BIGINT sum
    (one rounding per bucket, integer per-doc sum: exact, associative,
    engine-portable). Mean log-prob is logprob_x1e6 / n_tokens_lm /
    1e6, left to the caller so this output stays integer-exact.

    Scale shape: identical to DSIR scoring — map-side explode, one
    ≤``buckets``-row aggregation, broadcast join of the log-prob table
    back onto the token stream, one per-doc sum with map-side partials.
    The token stream is deliberately evaluated TWICE (once for the LM
    table, once for the per-doc sum) rather than materialized once: an
    (id, bucket) pre-aggregation behind an eager localCheckpoint was
    measured SLOWER interleaved at sf0.1 (0.97 -> 1.66s,
    ``git show 3d2eabf:scripts/opt_ab_r12.py`` — the blocking
    materialization job plus the extra (id, bucket) shuffle cost more
    than the saved map-only tokenize+md5 pass), and both passes stay
    shuffle-free; at cluster
    scale the same trade holds as long as tokenization is CPU-cheap —
    a pipeline with a heavier tokenizer should cut the plan at ``tok``
    with a persist(DISK_ONLY)/table write instead.

    ``carry_cols`` rides extra per-document columns (functional on
    ``id_col`` — e.g. the source label) through the per-doc aggregation
    so callers needing them avoid a corpus-wide join back to ``df``;
    the extra grouping keys are free (same shuffle, same groups).
    """
    from .dedup import words

    carry = list(carry_cols or [])
    # repartition BEFORE the tokenize explode (r12, guide §2.5 input
    # skew — the classify._tokens / dedup._parallelize_for_compute
    # rationale): a single parquet split otherwise runs both of this
    # operator's explode+md5 passes in ONE task each; at cluster scale
    # the input is already many splits and this is a cheap rebalance.
    n = df.sparkSession.sparkContext.defaultParallelism
    tok = (
        df.repartition(n, F.col(id_col))
        .select(
            F.col(id_col).alias("id"),
            *carry,
            F.explode(words(F.col(text_col))).alias("w"),
        )
        .filter(F.col("w") != "")
        .select(
            "id",
            *carry,
            (
                F.conv(F.substring(F.md5(F.col("w")), 1, 15), 16, 10).cast("long")
                % buckets
            ).alias("b"),
        )
    )
    counts = tok.groupBy("b").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.agg(F.sum("c").alias("n"))
    lp_tbl = counts.crossJoin(F.broadcast(totals)).select(
        "b",
        F.floor(
            F.log(
                (F.col("c") + 1).cast("double")
                / (F.col("n") + buckets).cast("double")
            )
            * scale
            + F.lit(0.5)
        )
        .cast("long")
        .alias("lp"),
    )
    return (
        tok.join(F.broadcast(lp_tbl), "b")
        .groupBy("id", *carry)
        .agg(
            F.count(F.lit(1)).alias("n_tokens_lm"),
            F.sum("lp").alias("logprob_x1e6"),
        )
    )

def bigram_pmi(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 25,
    top_n: int = 30,
    scale: int = 1_000_000,
) -> DataFrame:
    """Top-N word-bigram collocations by pointwise mutual information.

    The classic phrase-mining signal (Church & Hanks 1990): bigrams whose
    joint frequency far exceeds the independence expectation are
    collocations — the candidates a tokenizer-vocab or phrase-table build
    promotes to single units. PMI = ln(p(ab) / (p(a)·p(b))) with
    p(ab) = c_ab/N_bi, p(w) = c_w/N_uni.

    Scale shape: three map-only passes over the column-pruned text
    column (unigram explode; adjacent-pair explode via ``transform`` —
    no self-join; a per-doc length aggregate for the bigram total),
    two vocabulary-sized groupBys with map-side partials, corpus totals
    as 1-row broadcasts, and two plain equi-joins of the unigram table
    onto the (min_count-filtered) bigram table. At 100 TB the O(corpus)
    cost is those three codegen scans of one string column — no raw-text
    shuffle anywhere; everything after is O(vocabulary).

    Cross-engine determinism: the ratio is computed as one double
    expression with a fixed operation order, then fixed-point quantized
    (floor(x·scale + 0.5), the unigram_logprob discipline) so ordering
    and values hash identically in the DuckDB oracle; top-N ties break on
    the (w1, w2) key. Returns (w1, w2, c_ab, pmi_x1e6), pmi descending.
    """
    from .dedup import words

    # deliberately NOT repartitioned (r12 A/B, interleaved, sf0.1:
    # 1.69/1.60 with-vs-without — noise): the three passes are cheap
    # map-only splits, so a raw-text rebalance shuffle buys nothing
    # here and would cost a full-corpus exchange at cluster scale;
    # contrast unigram_logprob/classify._tokens, whose per-token md5
    # work makes the rebalance pay (the dedup kernel rationale).
    toked = df.select(words(F.col(text_col)).alias("ws")).select(
        F.expr("filter(ws, w -> w <> '')").alias("ws")
    )
    uni = (
        toked.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    n_uni = uni.agg(F.sum("c_w").cast("long").alias("n_uni"))
    big = (
        toked.select(
            F.explode(
                F.expr(
                    "filter(transform(ws, (w, i) -> "
                    "IF(i < size(ws) - 1, struct(w AS w1, ws[i + 1] AS w2), NULL)), "
                    "x -> x IS NOT NULL)"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    n_bi = (
        toked.select(
            F.greatest(F.size("ws") - 1, F.lit(0)).cast("long").alias("nb")
        )
        .agg(F.sum("nb").cast("long").alias("n_bi"))
    )
    ua = uni.select(F.col("w").alias("w1"), F.col("c_w").alias("c_a"))
    ub = uni.select(F.col("w").alias("w2"), F.col("c_w").alias("c_b"))
    ratio = (
        F.col("c_ab").cast("double")
        * F.col("n_uni").cast("double")
        * F.col("n_uni").cast("double")
        / (
            F.col("n_bi").cast("double")
            * F.col("c_a").cast("double")
            * F.col("c_b").cast("double")
        )
    )
    # NO forced broadcast on the unigram joins: the vocabulary of a web
    # corpus is unbounded (hundreds of millions of distinct tokens at
    # 100 TB), so these are plain equi-joins on the vocabulary-sized
    # tables — AQE broadcasts them when they measure small. Only the
    # 1-row totals are hint-broadcast.
    return (
        big.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select(
            "w1",
            "w2",
            F.col("c_ab").cast("long").alias("c_ab"),
            F.floor(F.log(ratio) * scale + F.lit(0.5)).cast("long").alias("pmi_x1e6"),
        )
        .orderBy(F.desc("pmi_x1e6"), "w1", "w2")
        .limit(top_n)
    )

def zipf_slope(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 100,
    scale: int = 1_000_000,
) -> DataFrame:
    """Zipf slope of the corpus rank-frequency curve — the one-number
    corpus-health signal (natural text tracks slope ~ -1; spam, boiler-
    plate, or template floods bend it).

    Exact engine-portable regression: the top-N terms are ranked
    deterministically, ln(rank) and ln(freq) are fixed-point-quantized
    to BIGINTs (ONE rounding per value), and the OLS slope is computed
    from integer sums — n·Σxy − Σx·Σy over n·Σx² − (Σx)² — which are
    exact and associative, so the single final IEEE division is
    bit-identical in any engine. No double is ever summed.

    Scale shape: one corpus tokenize pass (map-only explode), one
    vocabulary-sized count, a WindowGroupLimit top-N, and a ≤N-row
    aggregate. Returns one row: (n_terms, slope_x1e6).
    """
    from .dedup import words

    if top_n > 150:
        # exactness guard: the OLS sums are kept in signed-64 integers;
        # with x <= ln(top_n)*scale and y <= ln(2^63)*scale, n*sum(x*y)
        # crosses 2^63 around top_n ~ 200 — reject before silent
        # overflow rather than widen to decimal (150 ranks is already
        # far past where the Zipf fit stabilizes)
        raise ValueError(f"zipf_slope: top_n {top_n} > 150 would overflow "
                         "the exact int64 OLS sums")
    counts = (
        df.select(F.explode(words(F.col(text_col))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy(F.desc("c"), "w")
    ranked = (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(
            F.floor(F.log(F.col("rank").cast("double")) * scale + F.lit(0.5))
            .cast("long")
            .alias("x"),
            F.floor(F.log(F.col("c").cast("double")) * scale + F.lit(0.5))
            .cast("long")
            .alias("y"),
        )
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    num = F.col("n_terms") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n_terms") * F.col("sxx") - F.col("sx") * F.col("sx")
    return agg.select(
        "n_terms",
        F.floor(num.cast("double") / den.cast("double") * scale + F.lit(0.5))
        .cast("long")
        .alias("slope_x1e6"),
    )
