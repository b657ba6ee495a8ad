"""Text analysis operators for training-data pipelines — all fully
relational (split/explode/groupBy, engine-portable integer outputs).

- token counting (whitespace tokenizer, trimmed lowercase);
- quality scoring: token count, distinct tokens, type-token ratio,
  stopword ratio (integer percentages — exact across engines);
- language-ID: marker-token voting with deterministic argmax
  (heuristic n-gram/stopword classifier plumbing; the synthetic corpus
  is single-vocabulary so the *labels* are arbitrary — the operator
  contract is determinism + engine parity, verified by the oracle);
- document fingerprinting: min/max over token hashes (the 1-shingle
  MinHash special case — a rolling-hash-style content fingerprint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import _hash32, tokens_col

STOPWORDS = ["the", "a", "of", "to", "in"]

LANG_MARKERS = {
    "lang_a": ["the", "a", "row", "key"],
    "lang_b": ["table", "join", "query", "merge"],
    "lang_c": ["fast", "slow", "small", "big"],
}


def token_stats(df: DataFrame, id_col: str) -> DataFrame:
    """(id, n_tokens, n_uniq, ttr_pct, stop_pct) — exact integers."""
    toks = tokens_col()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n = F.size(toks).cast("long")
    nu = F.size(F.array_distinct(toks)).cast("long")
    ns = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast("long")
    return (
        df.select(F.col(id_col), n.alias("n_tokens"), nu.alias("n_uniq"), ns.alias("n_stop"))
        .withColumn("ttr_pct", F.expr("(100 * n_uniq) div n_tokens"))
        .withColumn("stop_pct", F.expr("(100 * n_stop) div n_tokens"))
        .drop("n_stop")
    )


# BPE-ish pre-tokenizer: letter runs / digit runs / single other
# non-space — the class structure GPT-2-style BPE pre-tokenization
# splits on, kept to a portable regex subset (identical semantics in
# Java regex and RE2/DuckDB, no lookarounds).
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 \\t\\n]"


def regex_token_stats(df: DataFrame, id_col: str) -> DataFrame:
    """Token counting, whitespace + BPE-ish regex (task directive):
    (id, n_ws, n_bpe, n_alpha, n_num, n_other) — all exact integers,
    all JVM-side (regexp_extract_all, codegen)."""
    t = F.trim(F.lower(F.col("text")))
    ws = F.split(t, r"\s+")
    bpe = F.expr(f"regexp_extract_all(trim(lower(text)), '{BPE_PATTERN}', 0)")
    n_alpha = F.size(F.filter(bpe, lambda x: x.rlike("^[a-z]+$")))
    n_num = F.size(F.filter(bpe, lambda x: x.rlike("^[0-9]+$")))
    return df.select(
        F.col(id_col),
        F.size(ws).cast("long").alias("n_ws"),
        F.size(bpe).cast("long").alias("n_bpe"),
        n_alpha.cast("long").alias("n_alpha"),
        n_num.cast("long").alias("n_num"),
        (F.size(bpe) - n_alpha - n_num).cast("long").alias("n_other"),
    )


def lang_id(df: DataFrame, id_col: str) -> DataFrame:
    """Marker-vote language ID: score per language = marker-token hits
    (with multiplicity); winner by (max score, language name). Output
    (id, pred_lang, score)."""
    toks = df.select(F.col(id_col), F.explode(tokens_col()).alias("_t"))
    scores = None
    for lang, markers in sorted(LANG_MARKERS.items()):
        m = F.array(*[F.lit(w) for w in markers])
        s = toks.groupBy(id_col).agg(
            F.sum(F.when(F.array_contains(m, F.col("_t")), 1).otherwise(0)).alias("score")
        ).withColumn("pred_lang", F.lit(lang))
        scores = s if scores is None else scores.unionByName(s)
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.desc("score"), "pred_lang")
    return (
        scores.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, "pred_lang", "score")
    )


def fingerprint(df: DataFrame, id_col: str) -> DataFrame:
    """Content fingerprint: min/max token hash (order-insensitive,
    whitespace-robust) + token count."""
    toks = tokens_col()
    hashes = F.transform(toks, _hash32)
    return df.select(
        F.col(id_col),
        F.array_min(hashes).alias("fp_min"),
        F.array_max(hashes).alias("fp_max"),
        F.size(toks).cast("long").alias("n_tokens"),
    )


def tfidf_topk(df: DataFrame, id_col: str, k: int = 3) -> DataFrame:
    """Per-document top-k tokens by TF-IDF — the curation primitive for
    keyword extraction / topic sampling. Fully relational: explode →
    tf per (doc, token) → df per token → idf = ln((N+1)/(df+1)) + 1
    (smoothed) → row_number ≤ k (ties by token asc for determinism).

    Scale shape: two groupBys on uniformly-hashed keys (token skew is
    the only hazard — the idf side is one row per distinct token and
    broadcast-joins back). Score reported as round(score·10⁶) so the
    oracle compares exact integers (double ln/division is
    correctly-rounded IEEE, identical across engines)."""
    from pyspark.sql import Window

    toks = df.select(F.col(id_col).alias("_id"), F.explode(tokens_col()).alias("tok"))
    tf = toks.groupBy("_id", "tok").agg(F.count("*").alias("tf"))
    # N as a 1-row broadcast joined into the plan — no driver collect,
    # no extra eager scan at plan-construction time
    nd = df.select(F.countDistinct(id_col).cast("double").alias("_n"))
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    idf = dfreq.crossJoin(F.broadcast(nd)).select(
        "tok",
        (F.log((F.col("_n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)).alias("idf"),
    )
    # NO broadcast hint on the idf side: the distinct-token dictionary
    # is unbounded at corpus scale (typos/ids/URLs) — let AQE choose
    # broadcast vs shuffle join from the actual size (review r02b)
    scored = tf.join(idf, "tok").select(
        "_id", "tok",
        F.round(F.col("tf") * F.col("idf") * 1e6).cast("long").alias("score_q6"),
    )
    w = Window.partitionBy("_id").orderBy(F.desc("score_q6"), F.col("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("_id").alias(id_col), "tok", "score_q6", "rank")
    )
