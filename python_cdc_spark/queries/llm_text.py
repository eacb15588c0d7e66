"""Text-analysis queries over the documents table (E27).

Language-ID, quality scoring, token statistics, fingerprinting — all
pure Column-expression pipelines (no UDFs) with DuckDB oracle twins.
Shared dialect notes: Spark ``split(norm, ' ')`` ≡ DuckDB
``string_split(norm, ' ')``; Spark regexp_replace is global by default,
DuckDB needs the ``'g'`` flag.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_cdc_spark.functions.text import (
    LANG_STOPWORDS,
    lang_guess,
    normalized_text,
    quality_features,
    token_count,
    tokens,
    word_ngrams_from_tokens,
)
from python_cdc_spark.io import table
from python_cdc_spark.queries.helpers import CDC_CORPUS_CTES
from python_cdc_spark.queries.registry import register

# DuckDB fragments mirroring functions/text.py exactly.
_SQL_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_SQL_TOKS = f"string_split({_SQL_NORM}, ' ')"
_SQL_GRAMS3 = (
    "CASE WHEN len(w) >= 3 THEN "
    "list_transform(generate_series(1, len(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) "
    "ELSE [] END"
)


@register(
    "text_token_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, source, text, {_SQL_TOKS} AS w FROM documents)
    SELECT doc_id, lang, source,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(w) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(w)) AS BIGINT) AS n_unique_tokens,
           CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w)
             AS mean_token_len,
           CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS type_token_ratio
    FROM t
    """,
    doc="E27: token counting + lexical-diversity statistics",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tokens projected once per row; the stats below reference the
    # column ~6 times (r13; see quality_features)
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text", tokens(F.col("text")).alias("__toks")
    )
    toks = F.col("__toks")
    n_tok = F.size(toks).cast("long")
    n_uniq = F.size(F.array_distinct(toks)).cast("long")
    tok_len_sum = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t).cast("long")
    )
    return d.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").cast("long").alias("n_chars"),
        n_tok.alias("n_tokens"),
        n_uniq.alias("n_unique_tokens"),
        (tok_len_sum.cast("double") / n_tok).alias("mean_token_len"),
        (n_uniq.cast("double") / n_tok).alias("type_token_ratio"),
    )


_ALL_STOPWORDS = sorted({s for v in LANG_STOPWORDS.values() for s in v})
_SQL_STOPLIST = ", ".join(f"'{s}'" for s in _ALL_STOPWORDS)


@register(
    "text_quality_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_SQL_TOKS} AS w FROM documents)
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_tokens,
           CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS BIGINT)
             AS n_punct,
           CAST(len(list_filter(w, x -> x IN ({_SQL_STOPLIST}))) AS BIGINT)
             AS stopword_hits,
           CAST(len(list_filter(w, x -> x IN ({_SQL_STOPLIST}))) AS DOUBLE) / len(w)
             AS stopword_ratio,
           (len(w) BETWEEN 5 AND 1000)
             AND (CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w)
                    BETWEEN 2 AND 15) AS keep
    FROM t
    """,
    doc="E27: corpus quality filter (length / punctuation / stopword ratios)",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "text", tokens(F.col("text")).alias("__toks")
    )
    qf = quality_features(F.col("text"), toks=F.col("__toks"))
    keep = qf["n_tokens"].between(5, 1000) & qf["mean_token_len"].between(2, 15)
    return d.select(
        "doc_id",
        qf["n_tokens"].alias("n_tokens"),
        qf["n_punct"].alias("n_punct"),
        qf["stopword_hits"].alias("stopword_hits"),
        qf["stopword_ratio"].alias("stopword_ratio"),
        keep.alias("keep"),
    )


def _sql_lang_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return f"len(list_filter(w, x -> x IN ({words})))"


@register(
    "text_lang_id",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_SQL_TOKS} AS w FROM documents),
    h AS (
      SELECT doc_id, lang,
             {", ".join(f"{_sql_lang_hits(lg)} AS h_{lg}" for lg in sorted(LANG_STOPWORDS))}
      FROM t
    )
    SELECT doc_id, lang,
           CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'en'
                WHEN h_zh = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'zh'
                WHEN h_fr = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
                WHEN h_es = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
                WHEN h_en = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
                ELSE 'de' END AS lang_guess,
           CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'en'
                WHEN h_zh = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'zh'
                WHEN h_fr = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
                WHEN h_es = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
                WHEN h_en = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
                ELSE 'de' END = lang AS guess_correct
    FROM h
    """,
    doc="E27: stopword-profile language identification heuristic",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # guess is referenced twice and lang_guess's 5 filters each read the
    # tokenization — projected once per row (r13)
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", tokens(F.col("text")).alias("__toks")
    )
    guess = lang_guess(F.col("text"), toks=F.col("__toks"))
    return d.select(
        "doc_id",
        "lang",
        guess.alias("lang_guess"),
        (guess == F.col("lang")).alias("guess_correct"),
    )


@register(
    "text_repetition_filter",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS w FROM documents),
    g AS (SELECT doc_id, {_SQL_GRAMS3} AS grams FROM t)
    SELECT doc_id,
           CAST(len(grams) AS BIGINT) AS n_grams,
           CAST(CASE WHEN len(grams) > 0
                THEN ((len(grams) - len(list_distinct(grams))) * 1000000) // len(grams)
                ELSE 0 END AS BIGINT) AS dup_ppm,
           (CASE WHEN len(grams) > 0
                THEN ((len(grams) - len(list_distinct(grams))) * 1000000) // len(grams)
                ELSE 0 END) <= 200000 AS keep
    FROM g
    """,
    doc="E27: within-document repetition filter (Gopher-style duplicate "
    "word-trigram fraction, exact integer parts-per-million — docs past "
    "20% duplicated trigrams are flagged for removal)",
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signal: the fraction of a document's word
    trigrams that are duplicates of another trigram in the SAME document
    — boilerplate/keyword-stuffed/looping text scores high and is cut in
    standard pretraining pipelines (the duplicate-n-gram family of
    filters alongside [Gopher]-style duplicate-line fractions). The
    ratio is computed in exact integer parts-per-million (``x*1e6 div
    n``) so the Spark and DuckDB sides agree bit-for-bit with no float
    rounding convention in play. Pure column expressions — one scan, no
    shuffle, no UDF."""
    d = table(spark, sf_dir, "documents")
    # tokens projected before the gram transform (r13; see
    # word_ngrams_from_tokens) and every downstream expression reads
    # the materialized "g" column, never the gram expression tree
    toked = d.select("doc_id", tokens(F.col("text")).alias("__toks"))
    n = F.size(F.col("g")).cast("long")
    ppm = F.when(n > 0, F.expr(
        "CAST((size(g) - size(array_distinct(g))) * CAST(1000000 AS BIGINT) DIV size(g) AS BIGINT)"
    )).otherwise(F.lit(0).cast("long"))
    return (
        toked.withColumn("g", word_ngrams_from_tokens(F.col("__toks"), 3))
        .select(
            "doc_id",
            n.alias("n_grams"),
            ppm.alias("dup_ppm"),
            (ppm <= 200000).alias("keep"),
        )
    )


@register(
    "text_fingerprint",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_SQL_TOKS} AS w FROM documents),
    g AS (SELECT doc_id, text, list_distinct({_SQL_GRAMS3}) AS grams FROM t)
    SELECT doc_id,
           md5({_SQL_NORM}) AS content_fp,
           list_min(list_transform(grams, x -> md5('0|' || x))) AS minhash_1,
           CAST(len(grams) AS BIGINT) AS n_distinct_grams
    FROM g
    """,
    doc="E27: document fingerprinting (content md5 + first MinHash component)",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    # tokens AND the distinct-gram array are materialized columns so the
    # tokenizer runs once per row and the gram array once per row (r13;
    # see word_ngrams_from_tokens)
    toked = d.select(
        "doc_id", "text", tokens(F.col("text")).alias("__toks")
    ).withColumn("__grams", F.array_distinct(word_ngrams_from_tokens(F.col("__toks"), 3)))
    return toked.select(
        "doc_id",
        F.md5(normalized_text(F.col("text"))).alias("content_fp"),
        F.array_min(
            F.transform(F.col("__grams"), lambda g: F.md5(F.concat(F.lit("0|"), g)))
        ).alias("minhash_1"),
        F.size(F.col("__grams")).cast("long").alias("n_distinct_grams"),
    )


# BPE-ish pre-tokenizer: greedy alternation over the normalized text.
# A letter run of length L matches `[a-z]{1,4}` ceil(L/4) times (greedy
# left-to-right chunking), each digit is its own token (modern tokenizers
# split digit runs), and every other non-space char is one token. Both
# Java regex (Spark) and RE2 (DuckDB) chunk greedy alternation
# identically, so the counts are exact twins.
_BPE_PATTERN = "[a-z]{1,4}|[0-9]|[^a-z0-9 ]"


@register(
    "text_bpe_token_estimate",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_NORM} AS norm FROM documents)
    SELECT doc_id,
           CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(norm, '{_BPE_PATTERN}')) AS BIGINT)
             AS n_bpe_tokens,
           CAST(length(norm) AS DOUBLE)
             / NULLIF(len(regexp_extract_all(norm, '{_BPE_PATTERN}')), 0)
             AS chars_per_token
    FROM t
    """,
    doc="E27: token counting — whitespace tokens vs a BPE-ish greedy "
    "subword regex (4-char letter chunks, per-digit tokens, per-symbol "
    "tokens), plus the chars-per-token compression ratio",
)
def text_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    norm = normalized_text(F.col("text"))
    n_bpe = F.size(F.regexp_extract_all(norm, F.lit(_BPE_PATTERN), F.lit(0))).cast(
        "long"
    )
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        (
            F.length(norm).cast("double") / F.nullif(n_bpe, F.lit(0))
        ).alias("chars_per_token"),
    )


@register(
    "text_tf_topk",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS w FROM documents),
    tf AS (
      SELECT doc_id, UNNEST(w) AS token FROM t
    ),
    tf_counts AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tf GROUP BY doc_id, token
    ),
    df AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf_counts GROUP BY token
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tc.doc_id, tc.token, tc.tf, df.df,
             CAST(tc.tf AS DOUBLE) * (n.n_docs + 1) / (df.df + 1) AS weight
      FROM tf_counts tc JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tf, df, weight, rnk FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY weight DESC, token) AS BIGINT) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    """,
    doc="E27: TF/DF term weighting, top-5 terms per document "
    "(log-free weight: tf·(N+1)/(df+1), deterministic across engines)",
)
def text_tf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide term statistics: per-doc term frequency joined with
    document frequency (the tf-idf shape; the idf log is replaced by a
    rational weight so the oracle comparison is exact)."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_counts = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    # corpus size as a 1-row aggregate broadcast into the plan — one job
    # does everything (a driver-side d.count() here would be a second
    # full scan of documents per query run)
    n_docs = d.agg(F.count(F.lit(1)).alias("__n_docs"))
    scored = (
        tf.join(df_counts, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            (
                F.col("tf").cast("double")
                * (F.col("__n_docs") + 1)
                / (F.col("df") + 1)
            ).alias("weight"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("weight"), F.asc("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
        .select("doc_id", "token", "tf", "df", "weight", "rnk")
    )


_BM25_TERMS = ("join", "scan", "filter", "merge")
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_oracle_body(src: str = "documents") -> str:
    """The BM25 CTE chain from tokenization to ranked top-20,
    parameterized on the corpus source (the CDC-maintained gate
    re-sources it from a post-CDC ``corpus`` CTE)."""
    return f"""t AS (SELECT doc_id, {_SQL_TOKS} AS w FROM {src}),
    tok AS (SELECT doc_id, UNNEST(w) AS token FROM t),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (
      SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
             COUNT(*) AS n_docs
      FROM dl
    ),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok
      WHERE token IN {str(tuple(_BM25_TERMS))}
      GROUP BY doc_id, token
    ),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token),
    contrib AS (
      SELECT tf.doc_id, tf.token,
             CAST(
               ((s.n_docs - df.df + 0.5) / (df.df + 0.5))
               * (tf.tf * ({_BM25_K1} + 1.0))
               / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / s.avgdl))
             AS DECIMAL(18,9)) AS c
      FROM tf
      JOIN df USING (token)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
    )
    SELECT doc_id, n_terms, score, rnk FROM (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_terms,
             CAST(SUM(c) AS DOUBLE) AS score,
             CAST(ROW_NUMBER() OVER (
               ORDER BY CAST(SUM(c) AS DOUBLE) DESC, doc_id) AS BIGINT) AS rnk
      FROM contrib GROUP BY doc_id
    ) WHERE rnk <= 20"""


@register(
    "text_bm25_search",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS w FROM documents),
    tok AS (SELECT doc_id, UNNEST(w) AS token FROM t),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (
      SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
             COUNT(*) AS n_docs
      FROM dl
    ),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok
      WHERE token IN {str(tuple(_BM25_TERMS))}
      GROUP BY doc_id, token
    ),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token),
    contrib AS (
      SELECT tf.doc_id, tf.token,
             CAST(
               ((s.n_docs - df.df + 0.5) / (df.df + 0.5))
               * (tf.tf * ({_BM25_K1} + 1.0))
               / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / s.avgdl))
             AS DECIMAL(18,9)) AS c
      FROM tf
      JOIN df USING (token)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
    )
    SELECT doc_id, n_terms, score, rnk FROM (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_terms,
             CAST(SUM(c) AS DOUBLE) AS score,
             CAST(ROW_NUMBER() OVER (
               ORDER BY CAST(SUM(c) AS DOUBLE) DESC, doc_id) AS BIGINT) AS rnk
      FROM contrib GROUP BY doc_id
    ) WHERE rnk <= 20
    """,
    doc=f"E27: BM25 retrieval — query {list(_BM25_TERMS)}, rational idf "
    f"(no log, engine-exact), k1={_BM25_K1} b={_BM25_B}, decimal-routed "
    "term sum, top-20 docs",
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus retrieval: BM25 over the documents table for a fixed query
    term set. Shapes for scale: token explode → (doc, term) tf is one
    shuffle; document length and corpus stats are aggregates broadcast
    into the plan (no driver count); the per-term contribution routes
    through DECIMAL(18,9) before the per-doc sum so the cross-term
    reduction is order-independent (the established oracle convention —
    idf uses the rational (N-df+0.5)/(df+0.5), not a log, so both
    engines compute identical IEEE doubles)."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    tf = (
        tok.filter(F.col("token").isin(*_BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    contrib = (
        tf.join(F.broadcast(df_t), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                ((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
                * (F.col("tf") * (_BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).cast("decimal(18,9)").alias("c"),
        )
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("c").cast("double").alias("score"),
        )
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 20)
        .select("doc_id", "n_terms", "score", "rnk")
    )


@register(
    "bm25_index_cdc_maintained",
    oracle=f"""
    WITH {CDC_CORPUS_CTES},
    {_bm25_oracle_body('corpus')}
    """,
    doc="E27 + E18: CDC-MAINTAINED BM25 index — postings/df/doclen/"
    "globals fold under I/U/D by counter arithmetic and touched-bucket "
    "rewrite; maintained-index search must equal the from-scratch "
    "ranking over the post-CDC corpus",
)
def bm25_index_cdc_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fourth CDC-maintained structure: a persisted text-search
    index (bucketed postings + doclen, df counters, corpus globals)
    tracking a replicated corpus through INSERT/UPDATE/DELETE. BM25's
    sufficient statistics are all algebraic, so the fold is counter
    arithmetic plus a touched-bucket rewrite — and touched buckets are
    a pure function of the delta's ids (crc32 bucketing), so unlike the
    ANN fold there is no victim-location scan at all. Same synthetic
    delta as the dedup-index gate (inserts 40%, updates every 17th base
    doc, deletes every 23rd); the search result over the maintained
    index must hash-match DuckDB's from-scratch BM25 over the post-CDC
    corpus (operators/bm25_index.py)."""
    from python_cdc_spark.operators.bm25_index import bm25_search

    # refold=True: this gate IS the fold-under-test — every invocation
    # pays copy + fold + search (the production maintenance shape), so
    # the bench row reports real fold cost
    work = _folded_bm25_index(spark, sf_dir, refold=True)
    out = bm25_search(spark, work, _BM25_TERMS, 20, _BM25_K1, _BM25_B)
    return out.localCheckpoint(eager=True)


#: (abs sf_dir, fingerprint) → path of the latest folded maintained
#: index. The two BM25 gates assert different aspects of ONE fold (term
#: ranking / positional phrase match); the phrase gate reuses the index
#: the fold gate produced instead of folding the same delta twice.
_BM25_FOLDED_CACHE: dict = {}


def _folded_bm25_index(spark: SparkSession, sf_dir: str, refold: bool = False) -> str:
    """Copy the PRISTINE cached base index (gate-cost separation, r10
    verdict #3: base build once per testdata fingerprint) into a fresh
    work dir and fold the shared I/U/D delta (cdc_corpus_split) into it
    — the production shape: copy + fold + read, never a from-scratch
    rebuild per run. ``refold=False`` reuses the latest folded index."""
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile

    from python_cdc_spark.operators.ann_index import source_fingerprint
    from python_cdc_spark.operators.bm25_index import (
        build_bm25_index,
        cdc_bm25_update,
    )
    from python_cdc_spark.queries.helpers import cached_pristine_base, cdc_corpus_split

    fp = source_fingerprint(os.path.join(sf_dir, "documents.parquet"))
    key = (os.path.abspath(sf_dir.rstrip("/")), fp)
    hit = _BM25_FOLDED_CACHE.get(key)
    if not refold and hit and os.path.isfile(os.path.join(hit, "_ptr")):
        return hit
    base, delta = cdc_corpus_split(spark, sf_dir)
    cache_key = hashlib.md5(key[0].encode()).hexdigest()[:16]
    cache = os.path.join(".bm25_cache", cache_key)
    if hit:
        shutil.rmtree(os.path.dirname(hit), ignore_errors=True)
    tmp = tempfile.mkdtemp(prefix="bm25_folded_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    work = os.path.join(tmp, "idx")
    cached_pristine_base(
        cache, fp, {"v": 5},  # v5 = format-stamped pointer (v4: globals in it)
        lambda d: build_bm25_index(spark, base, d), work,
    )
    cdc_bm25_update(spark, work, delta)
    _BM25_FOLDED_CACHE[key] = work
    return work


_PHRASE = ("merge", "join")


def _phrase_oracle_body(src: str = "documents") -> str:
    """Positional replay of the phrase match: token positions via
    UNNEST(generate_series), anchor = pos − i + 1 per phrase term i, an
    anchor covered by all terms' distinct offsets is one occurrence —
    the exact relational form of the index's adjacency join."""
    vals = ", ".join(f"({i + 1}, '{t}')" for i, t in enumerate(_PHRASE))
    m = len(_PHRASE)
    return f"""t AS (SELECT doc_id, {_SQL_TOKS} AS w FROM {src}),
    tok AS (
      SELECT doc_id, i AS pos, w[i] AS token
      FROM t, UNNEST(generate_series(1, len(w))) p(i)
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (
      SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
             COUNT(*) AS n_docs
      FROM dl
    ),
    ph(i, term) AS (VALUES {vals}),
    anch AS (
      SELECT tok.doc_id, tok.pos - ph.i + 1 AS anchor, ph.i AS i
      FROM tok JOIN ph ON tok.token = ph.term
    ),
    occ AS (
      SELECT doc_id, anchor FROM anch
      GROUP BY doc_id, anchor HAVING COUNT(DISTINCT i) = {m}
    ),
    ptf AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS phrase_tf
      FROM occ GROUP BY doc_id
    ),
    pdf AS (SELECT COUNT(*) AS df FROM ptf),
    scored AS (
      SELECT ptf.doc_id, ptf.phrase_tf,
             CAST(CAST(
               ((s.n_docs - pdf.df + 0.5) / (pdf.df + 0.5))
               * (ptf.phrase_tf * ({_BM25_K1} + 1.0))
               / (ptf.phrase_tf + {_BM25_K1}
                  * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / s.avgdl))
             AS DECIMAL(18,9)) AS DOUBLE) AS score
      FROM ptf
      JOIN dl USING (doc_id)
      CROSS JOIN stats s
      CROSS JOIN pdf
    )
    SELECT doc_id, phrase_tf, score, rnk FROM (
      SELECT doc_id, phrase_tf, score,
             CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
      FROM scored
    ) WHERE rnk <= 20"""


@register(
    "text_bm25_phrase_search",
    oracle=f"""
    WITH {_phrase_oracle_body('documents')}
    """,
    doc=f"E27: exact-PHRASE retrieval — query phrase {list(_PHRASE)}, "
    "positional adjacency match (anchor = pos − term offset), BM25 over "
    "per-doc phrase occurrence counts, top-20",
)
def text_bm25_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval over the corpus: positions via posexplode
    (kept 1-based to match SQL ordinality), phrase occurrences by the
    anchor trick — term i at position p votes for anchor p − i + 1, and
    an anchor with all len(phrase) distinct term offsets is one
    occurrence. Scale shape: the position explode is one pass, the
    phrase map is a broadcast literal, the per-doc occurrence count is
    one shuffle on doc_id, and corpus stats enter as broadcast
    aggregates — no driver loop, no all-pairs anywhere. Scoring mirrors
    text_bm25_search (rational idf, DECIMAL(18,9) routing)."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos0", "token")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    from python_cdc_spark.operators.bm25_index import phrase_df

    ph = phrase_df(spark, _PHRASE)
    occ = (
        tok.join(F.broadcast(ph), tok["token"] == ph["term"])
        .select("doc_id", "i", (F.col("pos") - F.col("i") + 1).alias("anchor"))
        .groupBy("doc_id", "anchor")
        .agg(F.countDistinct("i").alias("hits"))
        .filter(F.col("hits") == len(_PHRASE))
    )
    ptf = occ.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("phrase_tf"))
    pdf = ptf.agg(F.count(F.lit(1)).alias("df"))
    scored = (
        ptf.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(pdf))
        .select(
            "doc_id",
            "phrase_tf",
            (
                ((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
                * (F.col("phrase_tf") * (_BM25_K1 + 1.0))
                / (
                    F.col("phrase_tf")
                    + _BM25_K1
                    * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).cast("decimal(18,9)").cast("double").alias("score"),
        )
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 20)
        .select("doc_id", "phrase_tf", "score", "rnk")
    )


@register(
    "bm25_phrase_cdc_maintained",
    oracle=f"""
    WITH {CDC_CORPUS_CTES},
    {_phrase_oracle_body('corpus')}
    """,
    doc="E27 + E18: phrase search over the CDC-MAINTAINED BM25 index — "
    "the fold must preserve positional postings exactly, so an "
    "adjacency-join phrase match over the maintained index equals a "
    "from-scratch positional replay over the post-CDC corpus",
)
def bm25_phrase_cdc_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proves the CDC fold preserves POSITIONS (r11 verdict #4): build
    the base index, fold the shared I/U/D delta (cdc_corpus_split), then
    answer an exact-phrase query from the index's positional postings.
    The oracle replays positions from scratch over the post-CDC corpus
    CTE — a fold that dropped or re-derived positions wrongly (e.g.
    merging two images of one doc) would mis-rank immediately
    (operators/bm25_index.py bm25_phrase_search)."""
    from python_cdc_spark.operators.bm25_index import bm25_phrase_search

    work = _folded_bm25_index(spark, sf_dir)
    out = bm25_phrase_search(spark, work, _PHRASE, 20, _BM25_K1, _BM25_B)
    return out.localCheckpoint(eager=True)


# The narrow gate's delta is CONSTANT-width at every scale: 12 fixed ids
# (7..18; even → UPDATE ' nd', odd → DELETE) + 3 inserts cloning docs
# 1..3 past max(doc_id) — so the fold touches ≤15 of 64 buckets no
# matter how large the corpus is, while the main maintained gate's
# cdc_corpus_split churns ~45% of it.
_NARROW_CTES = """mx AS (SELECT MAX(doc_id) AS m FROM documents),
    corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id BETWEEN 7 AND 18 AND doc_id % 2 = 0
                  THEN text || ' nd' ELSE text END AS text
      FROM documents
      WHERE NOT (doc_id BETWEEN 7 AND 18 AND doc_id % 2 = 1)
      UNION ALL
      SELECT (SELECT m FROM mx) + doc_id AS doc_id, text
      FROM documents WHERE doc_id BETWEEN 1 AND 3
    )"""


@register(
    "bm25_fold_narrow_delta",
    oracle=f"""
    WITH {_NARROW_CTES},
    {_bm25_oracle_body('corpus')}
    """,
    doc="E27 + E18: NARROW-delta fold into the CDC-maintained BM25 "
    "index — a constant 15-id I/U/D delta must touch ≤15 of 64 buckets "
    "(self-asserted) at every scale, the O(touched) claim as a driver "
    "row; search over the folded index equals DuckDB's from-scratch "
    "BM25 over the post-delta corpus",
)
def bm25_fold_narrow_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The O(delta + touched buckets) claim, gated directly (builder's
    r13 queue #1): where bm25_index_cdc_maintained folds a ~45%-churn
    delta that touches all 64 buckets, this gate folds a DELTA OF
    CONSTANT WIDTH (12 update/delete ids + 3 inserts) into a
    full-corpus base index and self-asserts the fold touched ≤15
    buckets — at 100 TB this is the common maintenance shape: a
    trickle delta against a huge index, cost tracking the delta. The
    gate's per-run cost is pristine-copy + narrow fold + search (the
    copy is fixture transport, not fold cost — BENCH_BM25_CDC.json
    isolates pure fold-vs-width at sf1)."""
    from python_cdc_spark.operators.bm25_index import bm25_search

    work = _folded_bm25_narrow(spark, sf_dir)
    out = bm25_search(spark, work, _BM25_TERMS, 20, _BM25_K1, _BM25_B)
    return out.localCheckpoint(eager=True)


def narrow_delta(docs: DataFrame) -> DataFrame:
    """The constant-width I/U/D delta of ``_NARROW_CTES``, one
    definition shared by the registry gate and the corpus-scale receipt
    (tools/bench_bm25_cdc.py): 12 fixed ids (7..18; even → UPDATE with
    ' nd', odd → DELETE) + 3 inserts cloning docs 1..3 past
    max(doc_id)."""
    mx = int(docs.agg(F.max("doc_id")).first()[0])
    in_band = F.col("doc_id").between(7, 18)
    return (
        docs.filter(in_band & (F.col("doc_id") % 2 == 0))
        .select(
            F.lit("UPDATE").alias("operation"),
            "doc_id",
            F.concat(F.col("text"), F.lit(" nd")).alias("text"),
        )
        .unionByName(
            docs.filter(in_band & (F.col("doc_id") % 2 == 1)).select(
                F.lit("DELETE").alias("operation"),
                "doc_id",
                F.lit(None).cast("string").alias("text"),
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id").between(1, 3)).select(
                F.lit("INSERT").alias("operation"),
                (F.col("doc_id") + mx).alias("doc_id"),
                "text",
            )
        )
    )


def inverse_narrow_delta(docs: DataFrame) -> DataFrame:
    """The exact inverse of ``narrow_delta`` over the SAME original
    corpus: updates restore the original text, deletes re-insert the
    original doc, and the three cloned inserts are deleted — folding
    ``narrow_delta`` then this returns the corpus (and any maintained
    structure's CONTENT) to its pre-delta state, which is what lets the
    copy-free gates fold on the cached base directly instead of paying
    a full fixture copy per run."""
    mx = int(docs.agg(F.max("doc_id")).first()[0])
    in_band = F.col("doc_id").between(7, 18)
    return (
        docs.filter(in_band & (F.col("doc_id") % 2 == 0))
        .select(F.lit("UPDATE").alias("operation"), "doc_id", "text")
        .unionByName(
            docs.filter(in_band & (F.col("doc_id") % 2 == 1)).select(
                F.lit("INSERT").alias("operation"), "doc_id", "text"
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id").between(1, 3)).select(
                F.lit("DELETE").alias("operation"),
                (F.col("doc_id") + mx).alias("doc_id"),
                F.lit(None).cast("string").alias("text"),
            )
        )
    )


def _folded_bm25_narrow(spark: SparkSession, sf_dir: str) -> str:
    """Copy the cached FULL-corpus base index into a fresh work dir and
    fold the constant-width narrow delta (the Spark twin of
    ``_NARROW_CTES``). Always re-folds: this gate IS the narrow fold
    under test."""
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile

    from python_cdc_spark.operators.ann_index import source_fingerprint
    from python_cdc_spark.operators.bm25_index import (
        build_bm25_index,
        cdc_bm25_update,
    )
    from python_cdc_spark.queries.helpers import cached_pristine_base

    fp = source_fingerprint(os.path.join(sf_dir, "documents.parquet"))
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    delta = narrow_delta(docs)
    cache_key = hashlib.md5(os.path.abspath(sf_dir.rstrip("/")).encode()).hexdigest()[:16]
    cache = os.path.join(".bm25_cache", cache_key + "_full")
    tmp = tempfile.mkdtemp(prefix="bm25_narrow_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    work = os.path.join(tmp, "idx")
    cached_pristine_base(
        cache, fp, {"v": 5, "scope": "full"},
        lambda d: build_bm25_index(spark, docs, d), work,
    )
    stats = cdc_bm25_update(spark, work, delta)
    # the O(touched) self-check: a 15-id delta may touch at most 15
    # buckets regardless of corpus size. An explicit raise (not assert)
    # so the gate's contract survives `python -O`.
    if not (stats["touched_buckets"] <= 15 < stats["total_buckets"]):
        raise RuntimeError(
            f"narrow-delta fold touched more buckets than its O(touched) "
            f"contract allows: {stats}"
        )
    return work


@register(
    "text_bigram_lm_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS w FROM documents),
    big AS (
      SELECT doc_id, w[i] AS w1, w[i+1] AS w2
      FROM t, UNNEST(generate_series(1, len(w) - 1)) p(i)
      WHERE len(w) >= 2
    ),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1),
    v AS (SELECT COUNT(DISTINCT w2) AS vocab FROM big),
    scored AS (
      SELECT b.doc_id,
             CAST(
               (c12.c12 + 0.5) / (c1.c1 + 0.5 * v.vocab)
             AS DECIMAL(18,12)) AS p
      FROM big b
      JOIN c12 ON c12.w1 = b.w1 AND c12.w2 = b.w2
      JOIN c1 ON c1.w1 = b.w1
      CROSS JOIN v
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(p) AS DOUBLE) / COUNT(*) AS avg_bigram_p
    FROM scored GROUP BY doc_id
    """,
    doc="E27: corpus bigram-LM fluency score — add-1/2-smoothed "
    "P(w2|w1) trained on the corpus itself, per-doc mean probability "
    "(rational, log-free: the engine-exact analog of perplexity "
    "filtering)",
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality filtering the CCNet way, Spark-first: train the bigram
    model ON the corpus (two grouped counts), score every document by
    its mean smoothed bigram probability — low scorers are the
    word-salad/spam tail. Log-free rational smoothing keeps both
    engines bit-identical (the perplexity exp/log is monotone in this
    mean, so the FILTER decision is the same signal); per-bigram
    probabilities route through DECIMAL(18,12) so the per-doc mean is
    order-independent. Plan: one explode + three keyed shuffles,
    vocabulary count broadcast — no driver-side model state at any
    corpus size."""
    from python_cdc_spark.functions.text import tokens as _tokens

    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", _tokens(F.col("text")).alias("w")).filter(
        F.size("w") >= 2
    )
    big = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("w", 1, F.size("w") - 1),
                F.slice("w", 2, F.size("w") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = big.agg(F.countDistinct("w2").alias("vocab"))
    scored = (
        big.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            (
                (F.col("c12") + 0.5) / (F.col("c1") + 0.5 * F.col("vocab"))
            ).cast("decimal(18,12)").alias("p"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        (F.sum("p").cast("double") / F.count(F.lit(1))).alias("avg_bigram_p"),
    )


# Quality-classifier weights: a frozen "model" shipped as data. Real
# corpus pipelines broadcast a trained linear head (fastText / logreg
# over doc features) exactly like this — the model is a tiny table, the
# scan side never shuffles. Values chosen so the decision boundary
# lands inside this corpus's feature range (both classes non-empty).
_QC_WEIGHTS: list[tuple[str, float]] = [
    ("intercept", -3.0),
    ("sqrt_tokens", 0.25),
    ("stopword_ratio", 6.0),
    ("punct_ratio", -8.0),
    ("mean_token_len", 0.2),
    ("type_token_ratio", 1.5),
]

_SQL_QC_WEIGHTS = ", ".join(f"('{f}', {w})" for f, w in _QC_WEIGHTS)


@register(
    "text_quality_classifier",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_SQL_TOKS} AS w FROM documents),
    feats AS (
      SELECT doc_id,
             1.0 AS intercept,
             sqrt(CAST(len(w) AS DOUBLE)) AS sqrt_tokens,
             CAST(len(list_filter(w, x -> x IN ({_SQL_STOPLIST}))) AS DOUBLE)
               / len(w) AS stopword_ratio,
             CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g'))
                  AS DOUBLE) / length(text) AS punct_ratio,
             CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w)
               AS mean_token_len,
             CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS type_token_ratio
      FROM t
    ),
    x AS (
      SELECT doc_id, 'intercept' AS feat, intercept AS x FROM feats
      UNION ALL SELECT doc_id, 'sqrt_tokens', sqrt_tokens FROM feats
      UNION ALL SELECT doc_id, 'stopword_ratio', stopword_ratio FROM feats
      UNION ALL SELECT doc_id, 'punct_ratio', punct_ratio FROM feats
      UNION ALL SELECT doc_id, 'mean_token_len', mean_token_len FROM feats
      UNION ALL SELECT doc_id, 'type_token_ratio', type_token_ratio FROM feats
    ),
    wt(feat, w) AS (VALUES {_SQL_QC_WEIGHTS})
    SELECT x.doc_id,
           CAST(ROUND(SUM(CAST(wt.w * x.x AS DECIMAL(30,10))), 4) AS DOUBLE)
             AS logit,
           CAST(ROUND(SUM(CAST(wt.w * x.x AS DECIMAL(30,10))), 4) AS DOUBLE) >= 0
             AS keep
    FROM x JOIN wt USING (feat)
    GROUP BY x.doc_id
    """,
    doc="E27: model-based quality filter — linear classifier head over "
    "doc features, weights broadcast as a 6-row model table",
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring (the DCLM / fastText-classifier
    pipeline stage): features are pure column expressions, the trained
    head is a 6-row broadcast weights table, the logit is a
    decimal-routed dot product so partial-aggregation order can't
    perturb the decision. No sigmoid on purpose — libm exp() is not
    bit-portable across engines, and thresholding the logit is the
    same decision boundary.

    Scale: feature extraction is a map-only scan; the unpivot multiplies
    rows by n_features but stays map-side; the per-doc sum is the only
    shuffle; the model joins as a broadcast hash join.
    """
    from python_cdc_spark.queries.helpers import DEC

    # project the token array ONCE: four feature expressions reference
    # it, two through interpreted HOF lambdas that re-run the referenced
    # tree per access (see word_ngrams_from_tokens; r13 measured the
    # per-row multiplicity in this family)
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "text", tokens(F.col("text")).alias("__toks")
    )
    toks = F.col("__toks")
    n_tok = F.size(toks).cast("double")
    stop_hits = F.size(
        F.filter(
            toks,
            lambda t: t.isin([s for v in LANG_STOPWORDS.values() for s in v]),
        )
    ).cast("double")
    n_chars = F.length("text").cast("double")
    n_punct = (
        F.length("text") - F.length(F.regexp_replace("text", r"[.!?,;:]", ""))
    ).cast("double")
    tok_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t).cast("long")
    ).cast("double")
    feats = d.select(
        "doc_id",
        F.lit(1.0).alias("intercept"),
        F.sqrt(n_tok).alias("sqrt_tokens"),
        (stop_hits / n_tok).alias("stopword_ratio"),
        (n_punct / n_chars).alias("punct_ratio"),
        (tok_chars / n_tok).alias("mean_token_len"),
        (F.size(F.array_distinct(toks)).cast("double") / n_tok).alias(
            "type_token_ratio"
        ),
    )
    feat_names = [f for f, _ in _QC_WEIGHTS]
    x = feats.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(f).alias("feat"), F.col(f).alias("x"))
                    for f in feat_names
                ]
            )
        ).alias("fx"),
    ).select("doc_id", "fx.feat", "fx.x")
    # VALUES keeps the model table JVM-side — createDataFrame on local
    # Python rows would round-trip through pickled RDD partitions.
    wt = F.broadcast(
        spark.sql(
            "SELECT feat, CAST(w AS DOUBLE) AS w FROM (VALUES "
            + ", ".join(f"('{f}', {w})" for f, w in _QC_WEIGHTS)
            + ") AS wt(feat, w)"
        )
    )
    logit = F.round(
        F.sum((F.col("w") * F.col("x")).cast(DEC)), 4
    ).cast("double")
    return (
        x.join(wt, "feat")
        .groupBy("doc_id")
        .agg(logit.alias("logit"))
        .select("doc_id", "logit", (F.col("logit") >= 0).alias("keep"))
    )


@register(
    "text_vocab_zipf_stats",
    oracle=f"""
    WITH t AS (SELECT {_SQL_TOKS} AS w FROM documents),
    tok AS (SELECT unnest(w) AS token FROM t),
    c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS hapax_types,
             CAST(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS dis_types
      FROM c
    ),
    top AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS top100_tokens
      FROM (
        SELECT cnt,
               row_number() OVER (ORDER BY cnt DESC, token) AS rk
        FROM c
      ) WHERE rk <= 100
    )
    SELECT n_tokens, n_types, hapax_types, dis_types,
           CAST(n_types AS DOUBLE) / n_tokens AS type_token_ratio,
           CAST(hapax_types AS DOUBLE) / n_types AS hapax_share,
           CAST(top100_tokens AS DOUBLE) / n_tokens AS top100_token_share
    FROM tot, top
    """,
    doc="E27/diagnostics: corpus vocabulary profile — types, tokens, "
    "hapax/dis legomena, and head-concentration (top-100 token share); "
    "the Zipf sanity panel a pretraining corpus gets before training",
)
def text_vocab_zipf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One token explode → one vocab hash aggregate (map-side combine
    absorbs hot tokens) → an O(types) summary plus a top-100 head via
    orderBy+limit (TakeOrderedAndProject — distributed partial top-k,
    never a global sort), tiebroken (count desc, token) so both engines
    pick the same head. Every ratio divides integer-derived doubles —
    bit-portable. Output is ONE row; at 100 TB the only wide exchange
    is the token count aggregate."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(F.explode(tokens(F.col("text"))).alias("token"))
    c = tok.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    c = c.localCheckpoint(eager=False)  # totals + top-100 share one pass
    tot = c.agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
        .cast("long")
        .alias("hapax_types"),
        F.sum(F.when(F.col("cnt") == 2, 1).otherwise(0))
        .cast("long")
        .alias("dis_types"),
    )
    top = (
        c.orderBy(F.desc("cnt"), F.asc("token"))
        .limit(100)
        .agg(F.sum("cnt").cast("long").alias("top100_tokens"))
    )
    return (
        tot.crossJoin(F.broadcast(top))
        .select(
            "n_tokens",
            "n_types",
            "hapax_types",
            "dis_types",
            (F.col("n_types").cast("double") / F.col("n_tokens")).alias(
                "type_token_ratio"
            ),
            (F.col("hapax_types").cast("double") / F.col("n_types")).alias(
                "hapax_share"
            ),
            (F.col("top100_tokens").cast("double") / F.col("n_tokens")).alias(
                "top100_token_share"
            ),
        )
    )


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"(\+?1[ .-]?)?(\(\d{3}\)|\d{3})[ .-]?\d{3}[ .-]?\d{4}"

_PII_ORACLE = """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '__EMAIL__')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '__PHONE__')) AS BIGINT)
             AS n_phones,
           regexp_replace(regexp_replace(text, '__EMAIL__', '<EMAIL>', 'g'),
                          '__PHONE__', '<PHONE>', 'g') AS redacted
    FROM documents
""".replace("__EMAIL__", _PII_EMAIL).replace("__PHONE__", _PII_PHONE)


@register(
    "text_pii_redact",
    oracle=_PII_ORACLE,
    doc="E27/curation: PII redaction pre-flight — email/phone detection "
    "counts + in-place redaction via JVM-side regexp_replace (patterns "
    "chosen for identical RE2/Java-regex semantics, fixture-pinned in "
    "tests/test_operators.py); map-side, no shuffle",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scrub step every shipped training corpus needs: detect and
    redact emails and NANP-style phone numbers before packing. Pure
    map-side string work (regexp_extract_all for counts,
    nested regexp_replace for the redacted text) — whole-stage codegen,
    zero shuffles, scales with the scan. The patterns deliberately use
    only regex features with identical semantics in Java regex (Spark)
    and RE2 (DuckDB) — character classes, bounded repetition,
    alternation — so the oracle hash-matches the redacted strings
    byte-for-byte; behavior on actual PII is pinned by a fixture test
    (the synthetic corpus itself is PII-free, so this query's live
    counts are all zero — the fixture proves the non-trivial path)."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all("text", F.lit(_PII_EMAIL), F.lit(0))
        ).cast("long").alias("n_emails"),
        F.size(
            F.regexp_extract_all("text", F.lit(_PII_PHONE), F.lit(0))
        ).cast("long").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("text", _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ).alias("redacted"),
    )


_BPE_N_MERGES = 12
_BPE_WORD_FILTER = "LEN(word) BETWEEN 2 AND 12"

from python_cdc_spark.operators.bpe import bpe_oracle_sql  # noqa: E402


@register(
    "text_bpe_learn_merges",
    oracle=bpe_oracle_sql(_BPE_N_MERGES, _BPE_WORD_FILTER),
    doc="E27/LLM-pipeline: distributed BPE tokenizer FITTING — 12 greedy "
    "merge rounds learned over the corpus word-frequency table; per "
    "round one pair-count shuffle + a one-row argmax carry + a map-side "
    "merge; the DuckDB oracle replays the identical loop via unrolled "
    "CTEs with window-function islands for the left-to-right scan",
)
def text_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fitting at corpus scale (the counterpart to
    ``text_bpe_token_estimate``, which only APPLIES a fixed merge
    table). Corpus-scale work is one explode→groupBy(word) shuffle;
    the greedy loop then runs over the bounded vocabulary — per round
    one (lhs, rhs) pair-count shuffle with map-side combine, a
    single-row argmax collect (a model parameter, same O(k) carry rule
    as k-means centroids), and an Arrow-batched map-side merge. The
    vocabulary never materializes on the driver. Tie-break is
    (pair_count DESC, lhs, rhs) — deterministic in both engines.
    Merge semantics and the oracle's window-function replay are pinned
    in operators/bpe.py."""
    from python_cdc_spark.operators.bpe import learn_bpe_merges

    docs = table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
            ).alias("word")
        )
        .filter((F.length("word") >= 2) & (F.length("word") <= 12))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    merges = learn_bpe_merges(words, _BPE_N_MERGES)
    return spark.createDataFrame(
        merges,
        "merge_rank int, lhs string, rhs string, merged string, pair_count long",
    )
