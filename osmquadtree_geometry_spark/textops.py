"""Text analysis operators over the ``documents`` table: language-ID
(stopword-ratio heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), rolling-hash document fingerprinting.

All deterministic, all JVM-side SQL (no Python in the hot path), all
DuckDB-oracle-expressible.

Round-6 (guide §1.2 "per-task work"): every operator stages the
regex-tokenized array as ONE column (``__toks``) and expresses all
metrics over it.  The previous inline composition re-evaluated
``split(lower(trim(text)), '\\s+')`` up to ~13x per row (Catalyst
inlines single-use aliases, and higher-order functions are
interpreted, so no common-subexpression elimination saves you) —
measured 3-4s per 50k-doc pass at sf1.0; staging cuts the regex work
to one pass.  A staged column referenced more than once is never
collapsed back by CollapseProject, so the plan keeps exactly one
split() per row.  Formulas are unchanged expression-for-expression,
so results are bit-identical (oracle-checked).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "des", "est", "un", "une", "du", "pour"],
    "es": ["el", "la", "los", "de", "que", "y", "es", "un", "una", "por"],
}

_TOKS = "split(lower(trim(text)), '\\\\s+')"


def _with_toks(docs: DataFrame) -> DataFrame:
    """Stage the tokenized text as ONE column (see module docstring)."""
    return docs.withColumn("__toks", F.expr(_TOKS))


def _stop_ratio(lang: str, toks: str = _TOKS) -> str:
    lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (f"size(filter({toks}, t -> t IN ({lst}))) / "
            f"cast(greatest(size({toks}), 1) as double)")


def language_id(docs: DataFrame) -> DataFrame:
    """(doc_id, lang_pred, lang_score): argmax stopword-hit ratio;
    'und' (undetermined) when every ratio is 0."""
    return (_with_toks(docs)
            .withColumn("best", _best_lang_struct("__toks"))
            .select("doc_id",
                    F.when(F.col("best.score") > 0, F.col("best.lang"))
                    .otherwise(F.lit("und")).alias("lang_pred"),
                    F.round("best.score", 6).alias("lang_score")))


def _n_toks(toks: str = _TOKS) -> str:
    return f"size({toks})"


_PUNCT = ("length(regexp_replace(text, '[^!-/:-@\\\\[-`{{-~]', '')) / "
          "cast(greatest(length(text), 1) as double)")
_BPE = "size(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0))"


def _mean_tok(toks: str = _TOKS) -> str:
    return f"length(trim(text)) / cast(greatest({_n_toks(toks)}, 1) as double)"


def _quality_expr(toks: str = _TOKS) -> str:
    """The combined [0,1] quality heuristic (shared by quality_score
    and corpus_prep so the two can never drift)."""
    stop_en = _stop_ratio("en", toks)
    return (f"least(1.0d, {_n_toks(toks)} / 100.0d) * "
            f"(1.0d - least(1.0d, {_PUNCT} * 4))"
            f" * least(1.0d, 0.2d + {stop_en} * 4)")


def _best_lang_struct(toks: str = _TOKS):
    """Winning (score, lang) struct by descending score then ascending
    lang (shared by language_id and corpus_prep)."""
    return F.expr(
        "element_at(array_sort({}, (a, b) -> case when a.score > b.score then -1 "
        "when a.score < b.score then 1 when a.lang < b.lang then -1 else 1 end), 1)"
        .format("array({})".format(", ".join(
            f"struct({_stop_ratio(lg, toks)} as score, '{lg}' as lang)"
            for lg in STOPWORDS))))


def _lang_pred_col(toks: str = _TOKS):
    """argmax stopword-hit ratio as a Column; 'und' when every ratio
    is 0 (shared by language_id and corpus_prep)."""
    best = _best_lang_struct(toks)
    return (F.when(best["score"] > 0, best["lang"])
            .otherwise(F.lit("und")).alias("lang_pred"))


def quality_score(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, mean_token_len, punct_ratio, stop_ratio_en,
    quality): length/punct/stopword heuristics combined into [0,1]."""
    return _with_toks(docs).select(
        "doc_id",
        F.expr(_n_toks("__toks")).cast("long").alias("n_tokens"),
        F.round(F.expr(_mean_tok("__toks")), 6).alias("mean_token_len"),
        F.round(F.expr(_PUNCT), 6).alias("punct_ratio"),
        F.round(F.expr(_stop_ratio("en", "__toks")), 6).alias("stop_ratio_en"),
        F.round(F.expr(_quality_expr("__toks")), 6).alias("quality"))


def token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, ws_tokens, bpe_ish_tokens, n_chars): whitespace count +
    a BPE-ish regex count (letter runs / digit runs / single
    punctuation, the GPT-2 pretokenizer shape)."""
    return _with_toks(docs).select(
        "doc_id",
        F.expr(_n_toks("__toks")).cast("long").alias("ws_tokens"),
        F.expr(_BPE).cast("long").alias("bpe_ish_tokens"),
        F.length("text").cast("long").alias("n_chars"))


def fingerprint(docs: DataFrame, window: int = 8) -> DataFrame:
    """(doc_id, fp): winnowing-style fingerprint — md5 over the set of
    per-window minima of token md5s (robust to local edits).

    Staged: token md5s are hashed ONCE into ``__tokmd5`` and each
    window takes the min of a slice — the inline form re-hashed every
    token once per covering window (~``window``x the md5 work)."""
    mins = (f"transform(sequence(1, greatest(size(__toks) - {window - 1}, 1)), "
            f"i -> array_min(slice(__tokmd5, i, {window})))")
    return (_with_toks(docs)
            .withColumn("__tokmd5", F.expr("transform(__toks, t -> md5(t))"))
            .select(
                "doc_id",
                F.md5(F.expr(
                    f"array_join(array_sort(array_distinct({mins})), '|')"))
                .alias("fp")))


def corpus_prep(docs: DataFrame, min_quality: float = 0.05) -> DataFrame:
    """End-to-end training-corpus preparation in ONE fused pass:
    exact-dedup keepers -> quality gate -> language-ID -> per-language
    token statistics.

    The composition is deliberately shuffle-minimal: dedup keepers
    cost one hash-groupBy on (md5(text), length); every downstream
    metric (quality, language, token counts) is a pure column
    expression computed in a SINGLE projection over the keepers — no
    joins between the stages — and the final rollup is one partial-
    aggregated groupBy on the tiny-cardinality predicted language.

    Output (lang_pred, n_docs, ws_tokens, bpe_ish_tokens, n_chars,
    sum_quality_micro): all-integer aggregates; quality is summed in
    exact micro-units (round(q, 6) * 1e6 as bigint) so cross-engine
    float summation ORDER cannot flip the digest (the per-row rounded
    quality is order-free; only its integerized sum crosses rows)."""
    from .dedup import _distinct_text_keepers
    keep = _with_toks(_distinct_text_keepers(docs, "text"))
    feats = keep.select(
        "doc_id",
        _lang_pred_col("__toks"),
        F.round(F.expr(_quality_expr("__toks")), 6).alias("quality"),
        F.expr(_n_toks("__toks")).cast("long").alias("ws_tokens"),
        F.expr(_BPE).cast("long").alias("bpe_ish_tokens"),
        F.length("text").cast("long").alias("n_chars"))
    # quality gate as CONDITIONAL aggregates, not a WHERE: predicate
    # pushdown would substitute the full quality tree (its splits and
    # regexes) through the staged projection and evaluate it a second
    # time per row below the Project (round-6 plan audit); the
    # conditional form evaluates quality exactly once.  A language
    # whose every keeper fails the gate aggregates to n_docs = 0 and
    # is dropped post-agg — exactly the group the WHERE never formed
    # (null quality fails both the WHERE and the if()).
    q = float(min_quality)
    gate = f"quality >= {q!r}"
    return (feats.groupBy("lang_pred")
            .agg(F.sum(F.expr(f"if({gate}, 1L, 0L)")).alias("n_docs"),
                 F.sum(F.expr(f"if({gate}, ws_tokens, 0L)")).alias("ws_tokens"),
                 F.sum(F.expr(f"if({gate}, bpe_ish_tokens, 0L)"))
                 .alias("bpe_ish_tokens"),
                 F.sum(F.expr(f"if({gate}, n_chars, 0L)")).alias("n_chars"),
                 F.sum(F.expr(
                     f"if({gate}, cast(round(quality * 1000000) as bigint), 0L)"))
                 .alias("sum_quality_micro"))
            .where(F.col("n_docs") > 0))
