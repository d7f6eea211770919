"""Text analysis operators for training-data pipelines (SURVEY.md §2.10).

All pure built-ins (split/explode/regexp/length) — tokenization and
scoring stay JVM-side in whole-stage codegen; there is no Python in
any of these paths.  Every operator is a narrow map or a hash-agg:
embarrassingly parallel at 100 TB.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from processor_spark.caching import scoped_persist
from processor_spark.functions.tokenize import UNICODE_TOKEN_PATTERN_RE2, tokenize
from processor_spark.registry import register
from processor_spark.sources import load

TOP_TERMS = 20

# tiny stopword list used by quality scoring + language heuristic;
# chosen from common English function words
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")


def tokens(col, mode: str = "ws") -> F.Column:
    """Token array; ``mode='unicode'`` switches to the codepoint-class
    segmentation (CJK per-char, letter/digit runs) — see
    functions/tokenize.py for the cross-engine contract."""
    return tokenize(col, mode)


@register(
    "q_text_tokens",
    sql=f"""
    SELECT tok AS token, count(*) AS freq
    FROM (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    )
    GROUP BY tok
    ORDER BY freq DESC, tok
    LIMIT {TOP_TERMS}
    """,
)
def q_text_tokens(spark: SparkSession, sf_dir: str, mode: str = "ws") -> DataFrame:
    """Tokenize + global term frequency, top-20 terms.

    Ties at the cut line are broken by token text so the LIMIT is
    deterministic across engines (SURVEY.md §7 watch list).
    """
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens(F.col("text"), mode)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(TOP_TERMS)
    )


@register(
    "q_tfidf",
    sql="""
    WITH tf AS (
      SELECT doc_id, tok AS term, count(*) AS tf
      FROM (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents
      )
      GROUP BY doc_id, tok
    ), df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), n AS (
      SELECT count(*) AS n_docs FROM documents
    )
    SELECT tf.doc_id, tf.term,
           round(tf.tf * ln(n.n_docs / df.df), 6) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
    WHERE tf.tf * ln(n.n_docs / df.df) > 0
    """,
)
def q_tfidf(spark: SparkSession, sf_dir: str, mode: str = "ws") -> DataFrame:
    """TF-IDF per (doc, term), fully relational.

    tf = in-doc term count; idf = ln(N/df).  The df table is small
    (vocabulary-sized) and broadcast into the tf join; N is a scalar
    cross join.  ml.feature.HashingTF is the constant-memory variant
    for unbounded vocabularies at scale.
    """
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens(F.col("text"), mode)).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.count()  # scalar; at scale use a broadcast 1-row DF instead
    tfidf = F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
    return (
        tf.join(F.broadcast(df), "term")
        .where(tfidf > 0)
        .select("doc_id", "term", F.round(tfidf, 6).alias("tfidf"))
    )


@register(
    "q_text_stats",
    sql="""
    SELECT source, lang,
           count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars,
           round(avg(len(string_split_regex(trim(text), '\\s+'))), 4) AS avg_tokens,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars
    FROM documents
    GROUP BY source, lang
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus stats per (source, lang): doc counts, char/token lengths."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(F.avg(F.size(tokens(F.col("text")))), 4).alias("avg_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


@register(
    "q_quality_score",
    sql=f"""
    WITH scored AS (
      SELECT doc_id,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
             n_chars,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                             t -> list_contains({_STOP_SQL}, t))) AS n_stop
      FROM documents
    )
    SELECT doc_id,
           n_tokens,
           round(n_stop / n_tokens, 6) AS stopword_ratio,
           round(n_chars / n_tokens, 6) AS avg_token_len,
           CASE WHEN n_tokens >= 20 AND n_tokens <= 2000
                 AND n_stop / n_tokens BETWEEN 0.0 AND 0.8
                THEN 1 ELSE 0 END AS quality_pass
    FROM scored
    WHERE n_tokens > 0
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality scoring: length + stopword-ratio gates.

    The classic C4/Gopher-style pre-filter shape (bounds on token
    count, stopword density) as a single narrow projection.
    """
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    stop_ratio = n_stop.cast("double") / n_tokens.cast("double")
    return (
        d.select(
            "doc_id",
            n_tokens.alias("n_tokens"),
            F.round(stop_ratio, 6).alias("stopword_ratio"),
            F.round(F.col("n_chars").cast("double") / n_tokens.cast("double"), 6).alias(
                "avg_token_len"
            ),
            F.when(
                (n_tokens >= 20)
                & (n_tokens <= 2000)
                & (stop_ratio >= 0.0)
                & (stop_ratio <= 0.8),
                1,
            )
            .otherwise(0)
            .alias("quality_pass"),
        )
        .where(F.col("n_tokens") > 0)
    )


@register(
    "q_lang_id",
    sql=f"""
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN len(list_filter(string_split_regex(trim(text), '\\s+'),
                                     t -> list_contains({_STOP_SQL}, t)))
                     > 0.02 * len(string_split_regex(trim(text), '\\s+'))
                THEN 'en' ELSE 'unknown' END AS predicted_lang
    FROM documents
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID heuristic: English stopword density > 2% → 'en'.

    A deliberately simple, deterministic n-gram/stopword classifier so
    the oracle can replay it; a real pipeline would swap in a fastText
    model behind the same column contract.
    """
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.when(n_stop > 0.02 * F.size(toks), "en").otherwise("unknown").alias(
            "predicted_lang"
        ),
    )


@register(
    "q_token_count",
    sql="""
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS bpe_ish_tokens
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish regex segmentation
    (letter runs / digit runs / single punctuation) — the cheap proxy
    used for corpus token budgeting.
    """
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
        ).alias("bpe_ish_tokens"),
    )


@register(
    "q_fingerprint",
    sql="""
    SELECT doc_id, min(md5(tok)) AS fingerprint
    FROM (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    )
    GROUP BY doc_id
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: min token digest (1-permutation MinHash).

    Engine-portable digest (md5) so the oracle agrees; q_dedup_minhash
    is the multi-permutation generalization.
    """
    d = load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id")
        .agg(F.min(F.md5(F.col("tok").cast("binary"))).alias("fingerprint"))
    )


@register(
    "q_heavy_hitters",
    sql="""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
      FROM documents
    ), tot AS (SELECT count(*) AS n FROM toks)
    SELECT token, count(*) AS freq,
           round(count(*) / (SELECT n FROM tot), 6) AS share
    FROM toks
    GROUP BY token
    HAVING count(*) > 0.005 * (SELECT n FROM tot)
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters: tokens above a 0.5% frequency share.

    Exact two-pass form (count + threshold on the total); at 100 TB the
    sketch variant is count_min_sketch / Misra-Gries keeping per-
    partition candidate sets, merged at the driver — same output
    contract, sublinear state."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens(F.col("text"))).alias("token"))
    total = toks.count()  # scalar pass; at scale: broadcast 1-row agg
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    return counts.where(F.col("freq") > 0.005 * total).select(
        "token",
        "freq",
        F.round(F.col("freq") / F.lit(float(total)), 6).alias("share"),
    )


@register(
    "q_cooccurrence",
    sql="""
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    )
    SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS n_docs_together
    FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.tok < b.tok
    GROUP BY a.tok, b.tok
    HAVING count(*) >= 50
    """,
)
def q_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence: unordered token pairs appearing together in
    >= 50 documents (the feature behind PMI / embedding co-training
    stats).  Pair space is per-document distinct-token pairs — bounded
    by doc length, not corpus size; the groupBy collapses map-side."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok")).distinct()
    a = toks.alias("a")
    b = toks.alias("b")
    return (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.tok") < F.col("b.tok")))
        .groupBy(F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b"))
        .agg(F.count(F.lit(1)).alias("n_docs_together"))
        .where(F.col("n_docs_together") >= 50)
    )


@register(
    "q_quality_repetition",
    sql="""
    WITH per_doc AS (
      SELECT source,
             len(grams) AS total_grams,
             len(list_distinct(grams)) AS distinct_grams
      FROM (
        SELECT source,
               list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i + 1]) AS grams
        FROM (SELECT source, string_split_regex(trim(text), '\\s+') AS toks FROM documents)
        WHERE len(toks) >= 2
      )
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(total_grams) AS BIGINT) AS total_grams,
           CAST(sum(distinct_grams) AS BIGINT) AS distinct_grams,
           CAST(sum(CASE WHEN 10 * distinct_grams < 7 * total_grams
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
    FROM per_doc
    GROUP BY source
    """,
)
def q_quality_repetition(
    spark: SparkSession, sf_dir: str, mode: str = "ws"
) -> DataFrame:
    """Repeated-bigram quality signal (the Gopher 'duplicate n-gram
    fraction' rule): per document, total vs distinct word-2-grams, and
    a repetitive flag when >30 % of bigrams are repeats — aggregated
    per source.  All counts stay integers and the flag is an integer
    cross-multiplication (10*distinct < 7*total), so the oracle check
    is exact with zero float-boundary risk.  The grams never explode
    to rows: array lambdas (transform + array_distinct) keep the work
    per-document inside codegen, and the agg is one partial+final pass.
    Tokenization routes through the shared tokenizer (r8 unification);
    ``mode='unicode'`` extends the signal to CJK corpora."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("source", tokens(F.col("text"), mode).alias("toks")).where(
        F.size("toks") >= 2
    )
    grams = toks.select(
        "source",
        F.expr(
            "transform(sequence(1, size(toks) - 1),"
            " i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)))"
        ).alias("grams"),
    )
    per_doc = grams.select(
        "source",
        F.size("grams").alias("total_grams"),
        F.size(F.array_distinct("grams")).alias("distinct_grams"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("total_grams").alias("total_grams"),
        F.sum("distinct_grams").alias("distinct_grams"),
        F.sum(
            F.when(10 * F.col("distinct_grams") < 7 * F.col("total_grams"), 1).otherwise(0)
        ).alias("n_repetitive"),
    )


@register(
    "q_text_chunks",
    sql="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
    ), starts AS (
      SELECT doc_id, toks, u.s,
             row_number() OVER (PARTITION BY doc_id ORDER BY u.s) AS chunk_idx
      FROM t, unnest(range(1, len(toks) + 1, 48)) AS u(s)
    )
    SELECT doc_id, chunk_idx, s AS start_tok,
           len(array_slice(toks, s, s + 63)) AS n_tokens,
           toks[s] AS head
    FROM starts
    """,
)
def q_text_chunks(spark: SparkSession, sf_dir: str, mode: str = "ws") -> DataFrame:
    """Overlapping document chunking — 64-token windows on a 48-token
    stride (16-token overlap), the context-window splitter every LLM
    training/RAG pipeline runs before embedding.  Chunk starts come
    from `sequence(1, n, 48)` + posexplode and the chunk itself is
    `slice` — all array built-ins inside codegen, embarrassingly
    parallel, no shuffle at all until a downstream agg.  Emits chunk
    geometry (start, length, head token) rather than the chunk text to
    keep the oracle diff small; real pipelines keep the slice."""
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens(F.col("text"), mode).alias("toks"))
    starts = t.select(
        "doc_id",
        "toks",
        F.posexplode(F.expr("sequence(1, size(toks), 48)")).alias("pos0", "s"),
    )
    return starts.select(
        "doc_id",
        (F.col("pos0") + 1).alias("chunk_idx"),
        F.col("s").alias("start_tok"),
        F.size(F.slice("toks", F.col("s"), F.lit(64))).alias("n_tokens"),
        F.element_at("toks", F.col("s")).alias("head"),
    )


@register(
    "q_top_terms_per_source",
    sql="""
    SELECT source, token, freq, rank
    FROM (
      SELECT source, tok AS token, count(*) AS freq,
             row_number() OVER (PARTITION BY source
                                ORDER BY count(*) DESC, tok) AS rank
      FROM (
        SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents
      )
      GROUP BY source, tok
    ) WHERE rank <= 3
    """,
)
def q_top_terms_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k: the 3 most frequent terms per source — the
    per-stratum variant of heavy hitters.  Token counts reduce in a
    two-phase hash agg on (source, token); the window then ranks
    within each source over the already-tiny agg output, so the sort
    never sees raw tokens.  Deterministic tie-break (freq DESC, token
    ASC) on both engines."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(tokens("text")).alias("token")
    )
    counts = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.partitionBy("source").orderBy(F.desc("freq"), F.asc("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("source", "token", "freq", "rank")
    )


@register(
    "q_profile_stats",
    sql="""
    SELECT count(*) AS n_rows,
           count(DISTINCT source) AS n_sources,
           count(DISTINCT lang) AS n_langs,
           CAST(count(*) - count(text) AS BIGINT) AS null_texts,
           CAST(count_if(length(text) = 0) AS BIGINT) AS empty_texts,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars,
           CAST(count_if(n_chars < 100) AS BIGINT) AS short_docs
    FROM documents
    """,
)
def q_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset profiling in ONE pass: row count, category
    cardinalities, null/empty-text counts, length extremes and a
    too-short flag count — the data-quality gate a pipeline runs
    before spending GPU-hours on a corpus.  Every measure is a plain
    or conditional aggregate, so the whole profile is a single
    partial+final agg over one scan (no per-metric jobs)."""
    d = load(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        (F.count(F.lit(1)) - F.count("text")).alias("null_texts"),
        F.count_if(F.length("text") == 0).alias("empty_texts"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.count_if(F.col("n_chars") < 100).alias("short_docs"),
    )


@register(
    "q_fuzzy_join",
    sql="""
    WITH names AS (SELECT DISTINCT p_name, split_part(p_name, ' ', 2) AS blk FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS dist
    FROM names a JOIN names b
      ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy (edit-distance) self-join over part names.

    The entity-resolution primitive: candidate pairs come ONLY from an
    equi-join on a blocking key (last name token), so the quadratic
    levenshtein never runs across blocks — at 100 TB the block join
    shuffles on blk and each executor scores its block locally.
    DISTINCT first: scoring distinct strings, not rows, shrinks the
    pair space by the duplication factor squared. Integer distances →
    no cross-engine float hazard.
    """
    names = (
        load(spark, sf_dir, "part")
        .select("p_name")
        .distinct()
        .withColumn("blk", F.split(F.col("p_name"), " ").getItem(1))
    )
    a = names.select(F.col("p_name").alias("name_a"), F.col("blk").alias("blk_a"))
    b = names.select(F.col("p_name").alias("name_b"), F.col("blk").alias("blk_b"))
    return (
        a.join(b, (F.col("blk_a") == F.col("blk_b")) & (F.col("name_a") < F.col("name_b")))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .where(F.col("dist") <= 3)
        .select("name_a", "name_b", "dist")
    )


SPELLFIX_MIN_LEN = 4   # vocab terms shorter than this skip the index
SPELLFIX_QUERIES = 30  # fixed-size query set (the _QCAP rule)

_SPELLFIX_SQL = f"""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS term FROM documents
    ), vocab AS (
      SELECT term, count(*) AS freq FROM toks
      WHERE len(term) >= {SPELLFIX_MIN_LEN} GROUP BY term
    ), queries AS (
      SELECT DISTINCT substr(term, 1, 1) || substr(term, 3) AS qterm
      FROM (
        SELECT term, row_number() OVER (ORDER BY freq DESC, term) AS rn
        FROM vocab WHERE len(term) >= {SPELLFIX_MIN_LEN + 1}
      ) WHERE rn <= {SPELLFIX_QUERIES}
    ), vdel AS (
      SELECT term, freq,
             unnest(list_prepend(term, list_transform(range(1, len(term) + 1),
               i -> substr(term, 1, i - 1) || substr(term, i + 1)))) AS dkey
      FROM vocab
    ), qdel AS (
      SELECT DISTINCT qterm,
             unnest(list_prepend(qterm, list_transform(range(1, len(qterm) + 1),
               i -> substr(qterm, 1, i - 1) || substr(qterm, i + 1)))) AS dkey
      FROM queries
    ), cand AS (
      SELECT DISTINCT q.qterm, v.term, v.freq FROM qdel q JOIN vdel v USING (dkey)
    ), verified AS (
      SELECT qterm, term, freq, levenshtein(qterm, term) AS dist
      FROM cand WHERE levenshtein(qterm, term) <= 1
    )
    SELECT qterm, term AS correction,
           CAST(dist AS BIGINT) AS dist, CAST(freq AS BIGINT) AS freq
    FROM (
      SELECT *, row_number() OVER (PARTITION BY qterm
        ORDER BY dist, freq DESC, term) AS rn
      FROM verified
    ) WHERE rn = 1 ORDER BY qterm
    """

_SPELLFIX_DEL_EXPR = (
    "concat(array({c}), transform(sequence(1, length({c})),"
    " i -> concat(substring({c}, 1, i - 1), substring({c}, i + 1))))"
)


@register("q_spellfix", sql=_SPELLFIX_SQL)
def q_spellfix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SymSpell-style spelling correction: a symmetric-delete index
    over the corpus vocabulary answers "nearest dictionary term within
    edit distance 1" WITHOUT a quadratic fuzzy join and WITHOUT the
    blocking heuristic q_fuzzy_join relies on (blocking can miss pairs
    whose block key itself is the corrupted token; the delete cover is
    COMPLETE for d<=1: any substitution/insertion/deletion shares a
    1-delete key with the original — verified here by the exact
    levenshtein check the candidates must pass).

    Query set: deterministic edit-1 corruptions (2nd character
    deleted) of the top-{q} most frequent terms — fixed size, the
    _QCAP rule, so the probe side broadcasts and the index side
    streams: no skew hazard at any corpus size.  Ranking is
    (distance, freq DESC, term) with a total-order tie-break;
    levenshtein is the same classic DP integer on both engines
    (the q_fuzzy_join bridge), so the key carries a full hash oracle.

    Scale shape: vocabulary is corpus-sublinear, the delete index is
    O(vocab * avg_len) rows built by one explode (no shuffle beyond
    the vocab agg), and each query pays |deletes(q)| broadcast-joined
    probes.  The persisted-index variant would partition vdel by a
    dkey hash bucket — the text-index layout, noted not built."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens(F.col("text"))).alias("term"))
    vocab = (
        toks.where(F.length("term") >= SPELLFIX_MIN_LEN)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    queries = (
        vocab.where(F.length("term") >= SPELLFIX_MIN_LEN + 1)
        .orderBy(F.desc("freq"), "term")
        .limit(SPELLFIX_QUERIES)
        .select(
            F.expr("concat(substring(term, 1, 1), substring(term, 3))").alias("qterm")
        )
        .distinct()
    )
    vdel = vocab.select(
        "term", "freq",
        F.explode(F.expr(_SPELLFIX_DEL_EXPR.format(c="term"))).alias("dkey"),
    )
    qdel = queries.select(
        "qterm",
        F.explode(F.expr(_SPELLFIX_DEL_EXPR.format(c="qterm"))).alias("dkey"),
    ).distinct()
    cand = (
        vdel.join(F.broadcast(qdel), "dkey")
        .select("qterm", "term", "freq")
        .distinct()
        .withColumn("dist", F.levenshtein("qterm", "term"))
        .where(F.col("dist") <= 1)
    )
    w = Window.partitionBy("qterm").orderBy("dist", F.desc("freq"), "term")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "qterm",
            F.col("term").alias("correction"),
            F.col("dist").cast("long").alias("dist"),
            F.col("freq").cast("long").alias("freq"),
        )
        .orderBy("qterm")
    )


@register(
    "q_doc_entropy",
    sql="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    ), counts AS (
      SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
    ), sized AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n, count(*) AS n_distinct
      FROM counts GROUP BY doc_id
    )
    SELECT c.doc_id, s.n AS n_tokens, s.n_distinct,
           round(-sum((c.c / CAST(s.n AS DOUBLE)) * ln(c.c / CAST(s.n AS DOUBLE))), 6)
             AS entropy
    FROM counts c JOIN sized s ON s.doc_id = c.doc_id
    GROUP BY c.doc_id, s.n, s.n_distinct
    """,
)
def q_doc_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram (Shannon) entropy — the repetition/diversity
    quality signal: near-zero entropy means a document is one token
    stamped over and over; high entropy means diverse vocabulary.

    Two hash-aggs (token counts, then the entropy sum) — no joins wider
    than doc_id, embarrassingly parallel at 100 TB.  The entropy sum
    has ≤ a few hundred terms per doc, so round(…, 6) is far above
    float sum-order noise.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    counts = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    sized = counts.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    p = F.col("c") / F.col("n").cast("double")
    return (
        counts.join(sized, "doc_id")
        .groupBy("doc_id", F.col("n").alias("n_tokens"), "n_distinct")
        .agg(F.round(-F.sum(p * F.log(p)), 6).alias("entropy"))
    )


@register(
    "q_bigram_surprisal",
    sql="""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(text), '\\s+')) AS tok,
             generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos
      FROM documents
    ), bigrams AS (
      SELECT doc_id, tok AS w1, lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM toks
      QUALIFY lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL
    ), bg_stats AS (
      SELECT w1, w2, count(*) AS c12 FROM bigrams GROUP BY w1, w2
    ), ug_stats AS (
      SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bg_stats GROUP BY w1
    )
    SELECT b.doc_id,
           count(*) AS n_bigrams,
           round(avg(-ln(s.c12 / CAST(u.c1 AS DOUBLE))), 6) AS avg_surprisal
    FROM bigrams b
    JOIN bg_stats s ON s.w1 = b.w1 AND s.w2 = b.w2
    JOIN ug_stats u ON u.w1 = b.w1
    GROUP BY b.doc_id
    """,
)
def q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram language-model surprisal per document —
    the classic perplexity-style quality score: docs whose token
    transitions are improbable under the corpus's own bigram model
    score high (gibberish / shuffled text), repetitive boilerplate
    scores near zero.

    The bigram table is derived from the SAME corpus then joined back
    to each document's bigrams: the derived stats are re-referenced, so
    the bigram extraction is persist()ed (CLAUDE.md shared-subplan
    rule).  Shuffle keys are (w1, w2) and w1 — token-skew is the 100 TB
    hazard (stop-bigrams), mitigated by AQE skew-split exactly as in
    q_dedup_ngram.
    """
    d = load(spark, sf_dir, "documents", spread=True)
    # array-native bigrams (transform over the token array) — the old
    # posexplode + lead() window shuffled and sorted the whole token
    # stream by doc_id before a single bigram existed
    bigrams = (
        d.select("doc_id", tokens(F.col("text")).alias("toks"))
        .where(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2),"
                    " i -> struct(toks[i] AS w1, toks[i+1] AS w2))"
                )
            ).alias("bg"),
        )
        .select("doc_id", "bg.w1", "bg.w2")
        .transform(scoped_persist)
    )
    bg = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ug = bg.groupBy("w1").agg(F.sum("c12").cast("bigint").alias("c1"))
    surprisal = -F.log(F.col("c12") / F.col("c1").cast("double"))
    return (
        bigrams.join(bg, ["w1", "w2"])
        .join(ug, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(surprisal), 6).alias("avg_surprisal"),
        )
    )


@register(
    "q_text_redact",
    sql=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\b(customer|key|vector)\b')) AS BIGINT)
             AS n_redactions,
           md5(regexp_replace(text, '\b(customer|key|vector)\b', '<REDACTED>', 'g'))
             AS redacted_md5,
           CAST(length(regexp_replace(text, '\b(customer|key|vector)\b', '<REDACTED>', 'g'))
             AS BIGINT) AS redacted_len
    FROM documents
    """,
)
def q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denylist redaction — the sensitive-content masking pass every
    training pipeline runs before a corpus ships (PII patterns, secrets,
    blocked terms).  The synthetic corpus has no digits/emails, so a
    term denylist stands in for the PII regexes; the mechanics are
    identical: one JVM-side regexp_replace over the text, no Python
    boundary, embarrassingly parallel — at 100 TB this is a pure
    map stage that fuses into the scan.

    Verification is total: the oracle re-derives the redaction COUNT,
    the md5 of the REDACTED text, and its length, so a divergent regex
    engine behavior (word boundaries, global replace) would hash-fail.
    Spark replaces all matches by default; DuckDB needs the 'g' flag —
    encoded in the oracle, per the cross-engine bridge rules.
    """
    d = load(spark, sf_dir, "documents")
    pat = r"\b(customer|key|vector)\b"
    red = F.regexp_replace("text", pat, "<REDACTED>")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(pat), 0))
        .cast("long")
        .alias("n_redactions"),
        F.md5(red.cast("binary")).alias("redacted_md5"),
        F.length(red).cast("long").alias("redacted_len"),
    )


@register(
    "q_pii_scan",
    sql=r"""
    WITH lines AS (
      SELECT doc_id,
        text
        || CASE WHEN doc_id % 3 = 0 THEN ' mail=u' || CAST(doc_id AS VARCHAR)
                || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.com' ELSE '' END
        || CASE WHEN doc_id % 5 = 0 THEN ' tel=555-'
                || CAST(1000 + (doc_id * 7) % 9000 AS VARCHAR) ELSE '' END
        || CASE WHEN doc_id % 7 = 0 THEN ' ip=10.' || CAST(doc_id % 256 AS VARCHAR)
                || '.' || CAST((doc_id * 3) % 256 AS VARCHAR)
                || '.' || CAST((doc_id * 5) % 256 AS VARCHAR) ELSE '' END
        AS line
      FROM documents
    ), m AS (
      SELECT doc_id,
        regexp_extract_all(line, '[a-z0-9]+@[a-z0-9]+\.com') AS em,
        regexp_extract_all(line, '555-[0-9]{4}') AS ph,
        regexp_extract_all(line, '10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}') AS ip
      FROM lines
    )
    SELECT doc_id,
      CAST(len(em) AS BIGINT) AS n_emails,
      CAST(len(ph) AS BIGINT) AS n_phones,
      CAST(len(ip) AS BIGINT) AS n_ips,
      COALESCE(array_to_string(list_concat(list_concat(em, ph), ip), '|'), '') AS pii_all
    FROM m
    WHERE len(em) + len(ph) + len(ip) > 0
    """,
)
def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection scan — the compliance pass that inventories (not
    masks; see q_text_redact for masking) emails, phone numbers, and IP
    addresses per document.  The synthetic corpus carries none, so a
    deterministic log-line synthesis step plants them (same fixture
    convention as the multimodal payload generators); the DETECTION
    layer — three regex families extracted JVM-side in one codegen
    stage, no Python boundary — is then value-verified: the oracle
    re-plants and re-extracts independently, so a regex-engine
    divergence (greediness, character-class semantics) hash-fails.
    Matches are serialized to one '|'-joined string (driver hashing
    takes no list cells; empty-list NULL bridged with COALESCE)."""
    d = load(spark, sf_dir, "documents")
    did = F.col("doc_id")
    line = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" mail=u"),
                did.cast("string"),
                F.lit("@ex"),
                (did % 7).cast("string"),
                F.lit(".com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" tel=555-"), (F.lit(1000) + (did * 7) % 9000).cast("string")),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" ip=10."),
                (did % 256).cast("string"),
                F.lit("."),
                ((did * 3) % 256).cast("string"),
                F.lit("."),
                ((did * 5) % 256).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    m = d.select(
        "doc_id",
        F.regexp_extract_all(line, F.lit(r"[a-z0-9]+@[a-z0-9]+\.com"), 0).alias("em"),
        F.regexp_extract_all(line, F.lit(r"555-[0-9]{4}"), 0).alias("ph"),
        F.regexp_extract_all(
            line, F.lit(r"10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"), 0
        ).alias("ip"),
    )
    return (
        m.select(
            "doc_id",
            F.size("em").cast("long").alias("n_emails"),
            F.size("ph").cast("long").alias("n_phones"),
            F.size("ip").cast("long").alias("n_ips"),
            F.array_join(F.concat("em", "ph", "ip"), "|").alias("pii_all"),
        )
        .where(F.col("n_emails") + F.col("n_phones") + F.col("n_ips") > 0)
    )


# BM25 query terms: common corpus words with distinct frequencies
BM25_TERMS = ("spark", "table", "query")


# Shared by q_bm25 (rebuild) and q_bm25_serve (persisted index): the
# serve twin returns bit-identical rows, so sharing the oracle makes
# the hash check certify the index parquet round trip for free (the
# ANN *_serve convention).
_BM25_SQL = r"""
    WITH docs AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents
    ), feat AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS dl,
             CAST(len(list_filter(toks, x -> x = 'spark')) AS BIGINT) AS tf1,
             CAST(len(list_filter(toks, x -> x = 'table')) AS BIGINT) AS tf2,
             CAST(len(list_filter(toks, x -> x = 'query')) AS BIGINT) AS tf3
      FROM docs
    ), stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS tot_toks,
             CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
             CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2,
             CAST(sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df3
      FROM feat
    ), scored AS (
      SELECT doc_id, dl, tf1, tf2, tf3,
        ((n_docs - df1 + 0.5) / (df1 + 0.5)) * (tf1 * 2.2)
          / (tf1 + 1.2 * (0.25 + 0.75 * (dl / (CAST(tot_toks AS DOUBLE) / n_docs))))
        + ((n_docs - df2 + 0.5) / (df2 + 0.5)) * (tf2 * 2.2)
          / (tf2 + 1.2 * (0.25 + 0.75 * (dl / (CAST(tot_toks AS DOUBLE) / n_docs))))
        + ((n_docs - df3 + 0.5) / (df3 + 0.5)) * (tf3 * 2.2)
          / (tf3 + 1.2 * (0.25 + 0.75 * (dl / (CAST(tot_toks AS DOUBLE) / n_docs))))
        AS score
      FROM feat, stats
    )
    SELECT doc_id, dl, tf1, tf2, tf3,
           CAST(floor(score * 10000 + 0.5) AS BIGINT) AS score_tenthmilli
    FROM scored
    WHERE tf1 + tf2 + tf3 > 0
    ORDER BY score_tenthmilli DESC, doc_id
    LIMIT 20
    """


@register(
    "q_bm25",
    sql=_BM25_SQL,
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval ranking (k1=1.2, b=0.75) for a 3-term query — the
    scoring pass a RAG/data-curation retrieval index runs.  Uses the
    log-free rational idf variant idf = (N - df + 0.5)/(df + 0.5):
    monotone in df like the classic log form, but built ONLY from IEEE
    + * / in a fixed evaluation order, so Spark and DuckDB produce
    bit-identical doubles (libm log is the one float op whose last bit
    differs between engines — CLAUDE.md float rules).  Scores ship as
    integer tenth-milli units via floor(x*1e4+0.5); the top-20 cut
    selects on the INTEGER score with doc_id tie-break on both sides.

    Plan shape: tokenize + per-term tf are one narrow codegen map
    (array filter, no explode — the token stream is never shuffled);
    corpus stats are a 1-row aggregate broadcast back; the top-20 is
    TakeOrderedAndProject.  At 100 TB: map + tiny broadcast + per-
    partition heaps, no global sort."""
    d = load(spark, sf_dir, "documents")

    def _tf(term: str):
        # NB: the lambda must take exactly one arg — a second (even
        # defaulted) parameter makes pyspark pass the element INDEX
        return F.size(F.filter(tokens(F.col("text")), lambda x: x == F.lit(term)))

    feat = d.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("dl"),
        *[
            _tf(t).cast("long").alias(f"tf{i}")
            for i, t in enumerate(BM25_TERMS, 1)
        ],
    )
    stats = feat.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("tot_toks"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).cast("long").alias(f"df{i}")
            for i in range(1, 4)
        ],
    )
    term = (
        "(({n} - df{i} + 0.5) / (df{i} + 0.5)) * (tf{i} * 2.2)"
        " / (tf{i} + 1.2 * (0.25 + 0.75 * (dl / (CAST(tot_toks AS DOUBLE) / {n}))))"
    )
    score = " + ".join(term.format(i=i, n="n_docs") for i in range(1, 4))
    return (
        feat.crossJoin(F.broadcast(stats))
        .where(F.col("tf1") + F.col("tf2") + F.col("tf3") > 0)
        .select(
            "doc_id",
            "dl",
            "tf1",
            "tf2",
            "tf3",
            F.expr(f"CAST(floor(({score}) * 10000 + 0.5) AS BIGINT)").alias(
                "score_tenthmilli"
            ),
        )
        .orderBy(F.desc("score_tenthmilli"), F.asc("doc_id"))
        .limit(20)
    )


VOCAB_TOP = 100


@register(
    "q_vocab_coverage",
    sql=rf"""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents
    ), counts AS (
      SELECT token, count(*) AS freq FROM toks GROUP BY token
    ), tot AS (
      SELECT CAST(sum(freq) AS BIGINT) AS total FROM counts
    ), ranked AS (
      SELECT token, freq,
             row_number() OVER (ORDER BY freq DESC, token) AS rank,
             CAST(sum(freq) OVER (ORDER BY freq DESC, token
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
      FROM counts
    )
    SELECT rank, token, freq,
           (cum * 1000) // (SELECT total FROM tot) AS cov_permille
    FROM ranked WHERE rank <= {VOCAB_TOP}
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build + corpus coverage: the top-{VOCAB_TOP} tokens by
    frequency with each prefix's cumulative share of ALL token
    occurrences (exact integer permille) — the curve a tokenizer team
    reads to pick a vocab size / estimate the OOV rate.  Coverage is
    (cumulative count · 1000) div total, both exact integers, so the
    Zipf curve replays bit-for-bit on the oracle.

    Scale shape: token counts are ONE map-side-combinable hash agg; the
    top-{VOCAB_TOP} cut is TakeOrdered (per-partition heaps — the raw
    token stream is never globally sorted); the unpartitioned running
    window then runs over {VOCAB_TOP} rows only, and the grand total
    rides in as a broadcast scalar."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents", spread=True)
    toks = d.select(F.explode(tokens("text")).alias("token"))
    # counts feeds both the grand total and the top-V cut — persist the
    # (vocabulary-sized) agg so the tokenize pass runs once
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq")).transform(scoped_persist)
    total = counts.agg(F.sum("freq").alias("total"))
    top = counts.orderBy(F.desc("freq"), F.asc("token")).limit(VOCAB_TOP)
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        top.withColumn("rank", F.row_number().over(w))
        .withColumn("cum", F.sum("freq").over(wcum))
        .crossJoin(F.broadcast(total))
        .select(
            "rank",
            "token",
            "freq",
            F.expr("(cum * 1000) div total").alias("cov_permille"),
        )
    )


@register(
    "q_oov_rate",
    sql=rf"""
    WITH toks AS (
      SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents
    ), counts AS (
      SELECT token, count(*) AS freq FROM toks GROUP BY token
    ), vocab AS (
      SELECT token FROM counts ORDER BY freq DESC, token LIMIT {VOCAB_TOP}
    )
    SELECT source,
           count(*) AS n_tokens,
           CAST(count_if(token NOT IN (SELECT token FROM vocab)) AS BIGINT)
             AS n_oov,
           (CAST(count_if(token NOT IN (SELECT token FROM vocab)) AS BIGINT)
            * 1000) // count(*) AS oov_permille
    FROM toks GROUP BY source
    """,
)
def q_oov_rate(spark: SparkSession, sf_dir: str, mode: str = "ws") -> DataFrame:
    """Out-of-vocabulary rate per source against the top-{VOCAB_TOP}
    corpus vocabulary (q_vocab_coverage's cut, same deterministic
    ordering) — the tokenizer-eval twin of the coverage curve: coverage
    says how much of the corpus the vocab explains overall, OOV-per-
    source says WHICH corpora it fails (the number that decides
    whether a domain needs its own vocab extension).

    Scale shape: the vocab is a {VOCAB_TOP}-row TakeOrdered result
    broadcast into a left anti-flag join against the token stream —
    one token-counts agg + one per-source agg; the raw stream is
    never sorted."""
    d = load(spark, sf_dir, "documents", spread=True)
    # ONE tokenize pass: reduce the raw stream to (source, token)
    # counts first (map-side combinable, output bounded by
    # |sources|·|vocabulary| — tiny next to the token stream), then
    # derive BOTH the global vocab and the per-source OOV sums from
    # that persisted agg (CLAUDE.md shared-subplan rule; the explode
    # otherwise runs twice)
    st = (
        d.select("source", F.explode(tokens(F.col("text"), mode)).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .transform(scoped_persist)
    )
    vocab = (
        st.groupBy("token")
        .agg(F.sum("freq").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(VOCAB_TOP)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    flagged = st.join(F.broadcast(vocab), "token", "left")
    return (
        flagged.groupBy("source")
        .agg(
            F.sum("freq").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), F.col("freq")).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.expr("(n_oov * 1000) div n_tokens").alias("oov_permille"),
        )
    )


# Planted multilingual rows for q_token_unicode: the fixture corpus is
# ASCII, so the CJK/accented behavior the key certifies is exercised by
# unioning these literals IDENTICALLY on both engines (negative ids
# cannot collide with fixture doc_ids).
_UNICODE_PLANTS = [
    (-1, "深度学习模型训练数据去重与清洗流程"),
    (-2, "東京オフィスのカタカナとひらがなの混在テキスト"),
    (-3, "Résumé naïve café — déjà vu, ça va? Ñandú!"),
    (-4, "한국어 텍스트 전처리 파이프라인 2024버전"),
    (-5, "mixed 中文 and English text2024 with 数字123 runs"),
]

_PLANT_VALUES_SQL = ", ".join(f"({i}, '{t}')" for i, t in _UNICODE_PLANTS)


@register(
    "q_token_unicode",
    sql=f"""
    WITH docs AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0
      UNION ALL
      SELECT * FROM (VALUES {_PLANT_VALUES_SQL}) AS v(doc_id, text)
    ), tokd AS (
      SELECT doc_id,
             regexp_extract_all(text, '{UNICODE_TOKEN_PATTERN_RE2}') AS toks
      FROM docs
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_unique,
           COALESCE(array_to_string(toks[1:12], '|'), '') AS head_tokens
    FROM tokd
    """,
)
def q_token_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-aware tokenization (VERDICT r4 missing #2): codepoint-
    class segmentation — each Han character its own token, maximal
    letter runs for alphabetic scripts, digit runs — over a fixture
    slice UNIONed with planted CJK/accented rows, so the cross-engine
    token-stream contract (Java ``\\p{{IsHan}}`` ≡ RE2 ``\\p{{Han}}``,
    see functions/tokenize.py) is hash-verified on text that actually
    exercises it.  head_tokens serializes the first 12 tokens (driver
    hashing can't take list cells; DuckDB's empty-list
    array_to_string is NULL → COALESCE bridge).

    Scale shape: narrow per-row projection, zero shuffles — the regex
    runs JVM-side in whole-stage codegen, embarrassingly parallel.
    """
    d = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 50 == 0)
        .select("doc_id", "text")
    )
    planted = spark.createDataFrame(_UNICODE_PLANTS, "doc_id long, text string")
    toked = d.unionByName(planted).select(
        "doc_id", tokenize(F.col("text"), "unicode").alias("toks")
    )
    return toked.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_unique"),
        F.array_join(F.slice("toks", 1, 12), "|").alias("head_tokens"),
    )


RRF_K = 60
RRF_POOL = 50
RRF_TOP = 20


@register(
    "q_hybrid_rrf",
    sql=f"""
    WITH docs AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents
    ), feat AS (
      SELECT doc_id,
             len(list_filter(toks, t -> t IN ('spark', 'table', 'query'))) AS tf,
             least(NULLIF(list_position(toks, 'spark'), 0),
                   NULLIF(list_position(toks, 'table'), 0),
                   NULLIF(list_position(toks, 'query'), 0)) AS first_pos
      FROM docs
    ), rank_a AS (
      SELECT doc_id, rn AS r FROM (
        SELECT doc_id, row_number() OVER (ORDER BY tf DESC, doc_id) AS rn
        FROM feat WHERE tf > 0
      ) WHERE rn <= {RRF_POOL}
    ), rank_b AS (
      SELECT doc_id, rn AS r FROM (
        SELECT doc_id, row_number() OVER (ORDER BY first_pos ASC, doc_id) AS rn
        FROM feat WHERE first_pos IS NOT NULL
      ) WHERE rn <= {RRF_POOL}
    )
    SELECT doc_id,
           CAST(floor((COALESCE(CAST(1 AS DOUBLE) / CAST({RRF_K} + a.r AS DOUBLE), CAST(0 AS DOUBLE))
                     + COALESCE(CAST(1 AS DOUBLE) / CAST({RRF_K} + b.r AS DOUBLE), CAST(0 AS DOUBLE)))
                     * 1000000000 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS rrf_nano
    FROM rank_a a FULL OUTER JOIN rank_b b USING (doc_id)
    ORDER BY rrf_nano DESC, doc_id
    LIMIT {RRF_TOP}
    """,
)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion — the standard
    RAG-stack trick for combining rankers with incomparable scores:
    each ranker contributes 1/(k + rank), summed per doc.  Ranker A is
    lexical (total query-term frequency, the BM25-ish signal); ranker
    B is positional (how early the first query term appears — the
    title/lead-match heuristic).  Both ranks are INTEGERS, each RRF
    term is one IEEE division of integer-valued doubles and the fusion
    is one fixed-order sum, so quantizing to nano-units gives a full
    hash oracle with no float hazard.

    Scale shape: both pools are global top-N — taken as
    TakeOrderedAndProject (orderBy + limit, distributed partial top-N
    per partition) and then ranked by a window over the POOL-sized
    result only, never a data-sized unpartitioned sort (the
    q_window_ntile scale-killer class).  The fusion join runs over two
    {RRF_POOL}-row sets."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    terms = ("spark", "table", "query")
    feat = d.select(
        "doc_id",
        F.size(F.filter(toks, lambda t: t.isin(*terms))).alias("tf"),
        F.least(
            *[F.nullif(F.array_position(toks, t), F.lit(0)) for t in terms]
        ).alias("first_pos"),
    )

    def pooled_rank(df, order_cols, flt):
        pool = df.where(flt).orderBy(*order_cols).limit(RRF_POOL)
        w = Window.orderBy(*order_cols)  # POOL-sized set: 50 rows, safe
        return pool.withColumn("r", F.row_number().over(w)).select("doc_id", "r")

    rank_a = pooled_rank(
        feat, [F.desc("tf"), F.asc("doc_id")], F.col("tf") > 0
    )
    rank_b = pooled_rank(
        feat,
        [F.asc("first_pos"), F.asc("doc_id")],
        F.col("first_pos").isNotNull(),
    )
    ra = rank_a.select("doc_id", F.col("r").alias("ra"))
    rb = rank_b.select("doc_id", F.col("r").alias("rb"))
    contrib = F.coalesce(
        F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("ra").cast("double")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("rb").cast("double")), F.lit(0.0)
    )
    return (
        ra.join(rb, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.floor(contrib * 1000000000 + F.lit(0.5)).cast("bigint").alias("rrf_nano"),
        )
        .orderBy(F.desc("rrf_nano"), F.asc("doc_id"))
        .limit(RRF_TOP)
    )


# ------------------------------------------- persisted inverted index

TEXT_INDEX_ROOT = "/tmp/processor_spark_text_index"
TEXT_INDEX_FMT = 2  # v2: positional postings (phrase serving)
_TBUCKETS = 64  # term-hash partition dirs: a query reads |terms| dirs


def _term_bucket_py(term: str) -> int:
    """Python twin of the index writer's term bucket (md5-derived so
    the serving side can plan its partition-pruned read WITHOUT a
    Spark job — same digest family both sides, like the lakehouse
    bloom probe)."""
    import hashlib

    return int(hashlib.md5(("tb:" + term).encode()).hexdigest()[:8], 16) % _TBUCKETS


def _postings_frame(d: DataFrame):
    """Positional postings (fmt 2) from a documents frame: tf AND the
    sorted in-doc position list per (term, doc), doc length
    denormalized, 64-way md5 term bucket for partition-pruned serving.
    Returns (postings, dl) — shared by the one-shot builder and the
    incremental (generational) builder so both write byte-identical
    posting rows for the same documents."""
    docs = d.select("doc_id", tokens(F.col("text")).alias("toks"))
    dl = docs.select("doc_id", F.size("toks").cast("long").alias("dl"))
    postings = (
        docs.select("doc_id", F.posexplode("toks").alias("pos", "term"))
        .groupBy("term", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("tf"),
            F.sort_array(F.collect_list("pos")).alias("positions"),
        )
        .join(dl, "doc_id")
        .withColumn(
            "tbucket",
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("tb:"), F.col("term")).cast("binary")),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long"),
                F.lit(_TBUCKETS),
            ),
        )
    )
    return postings, dl


def _bm25_rank_from_postings(
    spark: SparkSession, p: DataFrame, n_docs: int, tot_toks: int
) -> DataFrame:
    """Rank the fixed BM25 query from a postings frame (term, doc_id,
    tf, dl) + corpus stats — the serve-side scorer shared by
    q_bm25_serve and the incremental-index key.  Stats enter as
    COLUMNS so the score expression tree is spelled EXACTLY like
    q_bm25's (literal stats would parse as Spark DECIMAL and take a
    different arithmetic path than the oracle)."""
    dfs = p.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    df_map = {r.term: r.df for r in dfs.collect()}  # |terms| rows
    feat = p.groupBy("doc_id").agg(
        F.first("dl").alias("dl"),
        *[
            F.coalesce(
                F.max(F.when(F.col("term") == t, F.col("tf"))), F.lit(0)
            )
            .cast("long")
            .alias(f"tf{i}")
            for i, t in enumerate(BM25_TERMS, 1)
        ],
    )
    stats = spark.createDataFrame(
        [
            (
                n_docs,
                tot_toks,
                *[int(df_map.get(t, 0)) for t in BM25_TERMS],
            )
        ],
        "n_docs bigint, tot_toks bigint, df1 bigint, df2 bigint, df3 bigint",
    )
    term = (
        "(({n} - df{i} + 0.5) / (df{i} + 0.5)) * (tf{i} * 2.2)"
        " / (tf{i} + 1.2 * (0.25 + 0.75 * (dl / (CAST(tot_toks AS DOUBLE) / {n}))))"
    )
    score = " + ".join(term.format(i=i, n="n_docs") for i in range(1, 4))
    return (
        feat.crossJoin(F.broadcast(stats))
        .where(F.col("tf1") + F.col("tf2") + F.col("tf3") > 0)
        .select(
            "doc_id",
            "dl",
            "tf1",
            "tf2",
            "tf3",
            F.expr(f"CAST(floor(({score}) * 10000 + 0.5) AS BIGINT)").alias(
                "score_tenthmilli"
            ),
        )
        .orderBy(F.desc("score_tenthmilli"), F.asc("doc_id"))
        .limit(20)
    )


def build_text_index(
    spark: SparkSession, sf_dir: str, path: str | None = None, force: bool = False
) -> str:
    """Build the inverted text index ONCE and persist it: postings
    (term, doc_id, tf, dl — doc length denormalized so serving never
    joins a doc-sized side) partitioned by a 64-way term-hash bucket,
    plus corpus stats (n_docs, tot_toks) in the meta marker.  The
    build is one tokenize + explode + (term, doc) count over the
    corpus — the offline job you amortize over every query; serving
    reads ONLY the partition dirs its query terms hash to
    (|terms|/64 of the postings).  Idempotent via the
    format-versioned marker written last (ANN-index convention)."""
    import json
    import os
    import shutil
    import uuid

    if path is None:
        tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
        path = os.path.join(TEXT_INDEX_ROOT, tag)
    meta = os.path.join(path, "_INDEX_META.json")
    try:
        with open(meta) as fh:
            if json.load(fh).get("fmt") == TEXT_INDEX_FMT and not force:
                return path
    except (OSError, ValueError):
        pass
    shutil.rmtree(path, ignore_errors=True)

    d = load(spark, sf_dir, "documents", spread=True)
    postings, dl = _postings_frame(d)
    from processor_spark.operators.similarity import write_partitioned

    write_partitioned(postings, os.path.join(path, "postings"), "tbucket")
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("tot_toks"),
    ).collect()[0]
    tmp = meta + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(
            {
                "kind": "text",
                "fmt": TEXT_INDEX_FMT,
                "source": sf_dir,
                "n_docs": stats.n_docs,
                "tot_toks": stats.tot_toks,
            },
            fh,
        )
    os.replace(tmp, meta)  # marker last: a crashed build is invisible
    return path


def build_text_index_incremental(
    spark: SparkSession, sf_dir: str, path: str | None = None, force: bool = False
) -> str:
    """Two-GENERATION incremental text index (VERDICT r8 #2): gen=0 is
    built from the existing corpus (doc_id % 10 != 0 — the standing
    index), gen=1 is APPENDED from the new-batch delta (doc_id % 10
    == 0, the q_dedup_incremental ingest split) without touching or
    rewriting gen 0.  This is how a 100 TB index absorbs a daily
    ingest: tokenize ONLY the delta, write its postings as a new
    generation directory, and bump the corpus stats — never re-read
    the base corpus.

    Crash safety (marker pattern, extended to appends): the delta's
    postings are written to a staging dir and atomically renamed to
    ``postings/gen=1``; the meta marker (which alone advertises
    ``gens: 2`` and the combined stats) is replaced LAST.  A crash at
    any point leaves a marker that does not mention the partial
    generation, and the retry wipes any unadvertised gen=1/staging
    dir before redoing the append — so readers never see a
    half-appended index and appends are idempotent."""
    import json
    import os
    import shutil
    import uuid

    if path is None:
        tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
        path = os.path.join(TEXT_INDEX_ROOT, tag + "-incr")
    meta_path = os.path.join(path, "_INDEX_META.json")
    meta = None
    try:
        with open(meta_path) as fh:
            meta = json.load(fh)
        # fmt alone is not enough: a different builder's (or a different
        # corpus') marker at the same explicit path= must not be served
        # as a current incremental index (ADVICE r9)
        if (
            meta.get("fmt") != TEXT_INDEX_FMT
            or meta.get("kind") != "text_incr"
            or meta.get("source") != sf_dir
        ):
            meta = None
    except (OSError, ValueError):
        meta = None
    if force:
        meta = None
    if meta is not None and meta.get("gens") == 2:
        return path

    if meta is None:
        # ---- base build (gen 0): the standing index
        shutil.rmtree(path, ignore_errors=True)
        base = load(spark, sf_dir, "documents", spread=True).where(
            F.col("doc_id") % 10 != 0
        )
        postings, dl = _postings_frame(base)
        from processor_spark.operators.similarity import write_partitioned

        write_partitioned(
            postings, os.path.join(path, "postings", "gen=0"), "tbucket"
        )
        st = dl.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("tot_toks"),
        ).collect()[0]
        meta = {
            "kind": "text_incr",
            "fmt": TEXT_INDEX_FMT,
            "source": sf_dir,
            "gens": 1,
            "n_docs": st.n_docs,
            "tot_toks": st.tot_toks,
        }
        tmp = meta_path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(tmp, meta_path)

    # ---- append (gen 1): only the delta batch is tokenized.  Any
    # gen=1 / staging dir present now is an UNADVERTISED partial
    # append (marker still says gens=1) — wipe and redo.
    gen1 = os.path.join(path, "postings", "gen=1")
    stage = os.path.join(path, ".stage-gen1")
    shutil.rmtree(gen1, ignore_errors=True)
    shutil.rmtree(stage, ignore_errors=True)
    delta = load(spark, sf_dir, "documents", spread=True).where(
        F.col("doc_id") % 10 == 0
    )
    postings, dl = _postings_frame(delta)
    from processor_spark.operators.similarity import write_partitioned

    write_partitioned(postings, stage, "tbucket")
    dst = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("tot_toks"),
    ).collect()[0]
    os.replace(stage, gen1)  # atomic: readers see all of gen 1 or none
    meta = dict(
        meta,
        gens=2,
        n_docs=meta["n_docs"] + dst.n_docs,
        tot_toks=meta["tot_toks"] + dst.tot_toks,
    )
    tmp = meta_path + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, meta_path)  # marker last: crashed append invisible
    return path


@register("q_text_index_append", sql=_BM25_SQL)
def q_text_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from the INCREMENTALLY-built two-generation index —
    the key's oracle is the FULL-CORPUS q_bm25 SQL, so the hash match
    proves base-build + delta-append answers bit-identically to a
    from-scratch rebuild over the unioned corpus (the strongest
    incremental-correctness oracle available; same contract as the
    serve twins).  Read side: the query's term-hash bucket dirs from
    EACH generation (absent dirs prove the bucket is empty in that
    generation — skip, don't crash), stats from the appended meta."""
    import json
    import os

    path = build_text_index_incremental(spark, sf_dir)
    with open(os.path.join(path, "_INDEX_META.json")) as fh:
        meta = json.load(fh)
    n_docs, tot_toks = meta["n_docs"], meta["tot_toks"]
    dirs = sorted(
        {
            os.path.join(
                path, "postings", f"gen={g}", f"tbucket={_term_bucket_py(t)}"
            )
            for t in BM25_TERMS
            for g in range(meta["gens"])
        }
    )
    dirs = [d for d in dirs if os.path.isdir(d)]
    if not dirs:
        return spark.createDataFrame(
            [],
            "doc_id bigint, dl bigint, tf1 bigint, tf2 bigint, tf3 bigint,"
            " score_tenthmilli bigint",
        )
    p = (
        spark.read.schema("term string, doc_id bigint, tf bigint, dl bigint")
        .parquet(*dirs)
        .where(F.col("term").isin(list(BM25_TERMS)))
    )
    return _bm25_rank_from_postings(spark, p, n_docs, tot_toks)


@register("q_bm25_serve", sql=_BM25_SQL)
def q_bm25_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 *serving* path: score the 3-term query from the PERSISTED
    inverted index instead of re-tokenizing the corpus per query
    (q_bm25's shape).  Query-time work is: read the |terms| term-hash
    partition dirs the query terms map to (planned in Python from the
    shared md5 bucket function — no job, no listing), derive each
    term's df from its posting count, pivot the postings to per-doc
    (tf1..tf3, dl) rows, apply the identical rational-idf score
    expression, TakeOrdered 20.  At 100 TB the difference is a full
    corpus tokenize per query vs reading ~|terms|/64 of a prebuilt
    postings table — and df/doc-length live IN the index, so nothing
    doc-sized is joined at serve time.  Shares q_bm25's oracle SQL:
    the hash match certifies the index round trip end to end."""
    import json
    import os

    path = build_text_index(spark, sf_dir)
    with open(os.path.join(path, "_INDEX_META.json")) as fh:
        meta = json.load(fh)
    n_docs, tot_toks = meta["n_docs"], meta["tot_toks"]
    dirs = sorted(
        {
            os.path.join(path, "postings", f"tbucket={_term_bucket_py(t)}")
            for t in BM25_TERMS
        }
    )
    p = (
        spark.read.schema("term string, doc_id bigint, tf bigint, dl bigint")
        .parquet(*dirs)
        .where(F.col("term").isin(list(BM25_TERMS)))
    )
    return _bm25_rank_from_postings(spark, p, n_docs, tot_toks)


_RAKE_STOP_RE = "( (?:" + "|".join(STOPWORDS) + ") )"


@register(
    "q_rake_keywords",
    sql=f"""
    WITH cleaned AS (
      SELECT ' ' || regexp_replace(lower(text), '[^a-z]+', ' ', 'g') || ' ' AS t
      FROM documents
    ), cut AS (
      -- two-pass stopword cut (the BPE padded-replace rule: one pass
      -- misses alternating stopword runs because the match consumes
      -- the shared separator space)
      SELECT regexp_replace(regexp_replace(t, '{_RAKE_STOP_RE}', ' | ', 'g'),
                            '{_RAKE_STOP_RE}', ' | ', 'g') AS t
      FROM cleaned
    ), segs AS (
      SELECT trim(regexp_replace(seg, '\\s+', ' ', 'g')) AS phrase
      FROM (SELECT unnest(string_split(t, '|')) AS seg FROM cut)
    ), phrases AS (
      SELECT phrase, string_split(phrase, ' ') AS words
      FROM segs
      WHERE length(phrase) > 0
        AND len(string_split(phrase, ' ')) BETWEEN 1 AND 3
        AND list_min(list_transform(string_split(phrase, ' '), w -> length(w))) >= 2
    ), wstats AS (
      SELECT w, count(*) AS freq, sum(plen) AS deg FROM (
        SELECT unnest(words) AS w, len(words) AS plen FROM phrases
      ) GROUP BY w
    ), wscore AS (
      SELECT w, (deg * 1000000) // freq AS s_e6 FROM wstats
    ), pdistinct AS (
      SELECT phrase, words, count(*) AS phrase_cnt FROM phrases GROUP BY phrase, words
    ), scored AS (
      SELECT p.phrase, len(p.words) AS n_words, p.phrase_cnt,
             sum(ws.s_e6) AS score_e6
      FROM (SELECT phrase, phrase_cnt, words, unnest(words) AS w FROM pdistinct) p
      JOIN wscore ws ON ws.w = p.w
      GROUP BY p.phrase, len(p.words), p.phrase_cnt
    )
    SELECT phrase, CAST(n_words AS BIGINT) AS n_words,
           CAST(phrase_cnt AS BIGINT) AS phrase_cnt,
           CAST(score_e6 AS BIGINT) AS score_e6
    FROM scored
    ORDER BY score_e6 DESC, phrase
    LIMIT 20
    """,
)
def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction: candidate phrases are stopword-bounded
    runs (1-3 words), scored by the degree/frequency ratio of their
    words — the unsupervised keyphrase pass a corpus card runs.
    Integer-exact variant: per-word score is (deg * 1e6) div freq
    (the div bridge), phrase score is the integer sum over its words;
    the stopword cut is the two-pass padded replace (the BPE rule —
    one pass misses alternating stopword runs identically on both
    engines, so the semantics are pinned as two-pass).  Scale shape:
    narrow per-document string maps + explodes crushed by hash aggs
    (words, then distinct phrases); the final top-20 is a
    TakeOrdered."""
    d = load(spark, sf_dir, "documents", spread=True)
    cleaned = d.select(
        F.concat(
            F.lit(" "),
            F.regexp_replace(F.lower(F.col("text")), "[^a-z]+", " "),
            F.lit(" "),
        ).alias("t")
    )
    pat = _RAKE_STOP_RE
    cut = cleaned.select(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), pat, " | "), pat, " | "
        ).alias("t")
    )
    segs = cut.select(
        F.explode(F.split(F.col("t"), "\\|")).alias("seg")
    ).select(F.trim(F.regexp_replace(F.col("seg"), "\\s+", " ")).alias("phrase"))
    words_col = F.split(F.col("phrase"), " ")
    phrases = segs.where(
        (F.length("phrase") > 0)
        & (F.size(words_col).between(1, 3))
        & (F.array_min(F.transform(words_col, F.length)) >= 2)
    ).select("phrase", words_col.alias("words"))
    wstats = (
        phrases.select(F.explode("words").alias("w"), F.size("words").alias("plen"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg"))
    )
    wscore = wstats.select("w", F.expr("(deg * 1000000) div freq").alias("s_e6"))
    pdistinct = phrases.groupBy("phrase", "words").agg(
        F.count(F.lit(1)).alias("phrase_cnt")
    )
    scored = (
        pdistinct.select(
            "phrase", "phrase_cnt", F.size("words").alias("n_words"),
            F.explode("words").alias("w"),
        )
        .join(wscore, "w")
        .groupBy("phrase", "n_words", "phrase_cnt")
        .agg(F.sum("s_e6").alias("score_e6"))
    )
    return (
        scored.select(
            "phrase",
            F.col("n_words").cast("long").alias("n_words"),
            F.col("phrase_cnt").cast("long").alias("phrase_cnt"),
            F.col("score_e6").cast("long").alias("score_e6"),
        )
        .orderBy(F.desc("score_e6"), F.asc("phrase"))
        .limit(20)
    )


# ------------------------------------------------------------ boilerplate

_BOILER_NUM = 4  # boilerplate when df * 5 >= n_docs * 4  (>= 80%)
_BOILER_DEN = 5


@register(
    "q_boilerplate",
    sql=f"""
    WITH occ AS (
      SELECT doc_id, source,
             unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    ), ndocs AS (
      SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ), df AS (
      SELECT source, tok, count(*) AS df
      FROM (SELECT DISTINCT doc_id, source, tok FROM occ)
      GROUP BY source, tok
    ), boiler AS (
      SELECT d.source, d.tok
      FROM df d JOIN ndocs n ON n.source = d.source
      WHERE d.df * {_BOILER_DEN} >= n.n_docs * {_BOILER_NUM}
    ), tot AS (
      SELECT source, count(*) AS total_occ FROM occ GROUP BY source
    ), bocc AS (
      SELECT o.source, count(*) AS boiler_occ
      FROM occ o JOIN boiler b ON b.source = o.source AND b.tok = o.tok
      GROUP BY o.source
    ), bvoc AS (
      SELECT source, count(*) AS n_boiler_tokens FROM boiler GROUP BY source
    )
    SELECT n.source,
           CAST(n.n_docs AS BIGINT) AS n_docs,
           CAST(coalesce(v.n_boiler_tokens, 0) AS BIGINT) AS n_boiler_tokens,
           CAST(coalesce(b.boiler_occ, 0) AS BIGINT) AS boiler_occ,
           CAST(t.total_occ AS BIGINT) AS total_occ,
           CAST((coalesce(b.boiler_occ, 0) * 1000000) // t.total_occ AS BIGINT) AS share_e6
    FROM ndocs n
    JOIN tot t ON t.source = n.source
    LEFT JOIN bocc b ON b.source = n.source
    LEFT JOIN bvoc v ON v.source = n.source
    ORDER BY n.source
    """,
)
def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection per source — the web-corpus cleaning
    primitive: tokens present in >= 80% of a source's documents are
    navigation/footer furniture, and the share of a source's token
    mass they account for is the boilerplate contamination measure a
    training-data pipeline gates crawl sources on.

    Integer-exact throughout: the 80% threshold is the cross-
    multiplied comparison df*5 >= n_docs*4 (no float ratio), the
    share is the (x*1e6) // total division bridge.

    Scale shape: distinct + two hash-aggs on (source, token) — all
    map-side combinable; the boilerplate vocabulary (tokens in >=80%
    of docs) is tiny by construction, so the occurrence tagging join
    broadcasts it.  No windows, no data-sized sorts."""
    d = load(spark, sf_dir, "documents", spread=True)
    occ = d.select("doc_id", "source", F.explode(tokens(F.col("text"))).alias("tok"))
    occ = scoped_persist(occ)
    ndocs = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    df = (
        occ.select("doc_id", "source", "tok")
        .distinct()
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    boiler = (
        df.join(F.broadcast(ndocs), "source")
        .where(F.col("df") * _BOILER_DEN >= F.col("n_docs") * _BOILER_NUM)
        .select("source", "tok")
    )
    tot = occ.groupBy("source").agg(F.count(F.lit(1)).alias("total_occ"))
    bocc = (
        occ.join(F.broadcast(boiler), ["source", "tok"])
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("boiler_occ"))
    )
    bvoc = boiler.groupBy("source").agg(F.count(F.lit(1)).alias("n_boiler_tokens"))
    return (
        ndocs.join(tot, "source")
        .join(bocc, "source", "left")
        .join(bvoc, "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.coalesce(F.col("n_boiler_tokens"), F.lit(0)).cast("long").alias("n_boiler_tokens"),
            F.coalesce(F.col("boiler_occ"), F.lit(0)).cast("long").alias("boiler_occ"),
            F.col("total_occ").cast("long").alias("total_occ"),
            F.expr(
                "CAST((coalesce(boiler_occ, 0) * 1000000) div total_occ AS BIGINT)"
            ).alias("share_e6"),
        )
        .orderBy("source")
    )


# ------------------------------------------------------------ collocations

_COLL_MIN_COUNT = 5
_COLL_TOPK = 20


@register(
    "q_collocations",
    sql=f"""
    WITH toks AS (
      SELECT string_split_regex(trim(text), '\\s+') AS t FROM documents
    ), big AS (
      SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
      FROM toks WHERE len(t) >= 2
    ), uni AS (
      SELECT unnest(t) AS w FROM toks
    ), cx AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
      n_tot AS (SELECT count(*) AS n FROM uni),
      np AS (SELECT count(*) AS n FROM big),
      cxy AS (SELECT bg, count(*) AS cp FROM big GROUP BY bg)
    SELECT bg AS bigram, CAST(cp AS BIGINT) AS c_xy,
           CAST(a.c AS BIGINT) AS c_x, CAST(b.c AS BIGINT) AS c_y,
           CAST(floor(
             CAST(CAST(cp AS HUGEINT) * CAST((SELECT n FROM n_tot) AS HUGEINT)
                  * CAST((SELECT n FROM n_tot) AS HUGEINT) * 1000000 AS DOUBLE)
             / CAST(CAST((SELECT n FROM np) AS HUGEINT)
                    * CAST(a.c AS HUGEINT) * CAST(b.c AS HUGEINT) AS DOUBLE)
           ) AS BIGINT) AS lift_e6
    FROM cxy
    JOIN cx a ON a.w = string_split(bg, ' ')[1]
    JOIN cx b ON b.w = string_split(bg, ' ')[2]
    WHERE cp >= {_COLL_MIN_COUNT}
    ORDER BY lift_e6 DESC, bg
    LIMIT {_COLL_TOPK}
    """,
)
def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top bigrams by PMI lift
    c(xy)·N² / (Npairs·c(x)·c(y)) with a minimum-count floor — the
    phrase-vocabulary induction step (tokenizer phrase merges, index
    phrase terms) run before training.

    Log-free by design: PMI's log is monotone, so ranking by the
    RATIONAL lift ranks identically — and the rational is exact:
    both 128-bit integer products (Spark decimal chains sized to stay
    <= 38 digits, DuckDB HUGEINT) round to the identical double before
    the single division (the r4 combine bridge), then integerize.

    Scale shape: two map-side-combinable counting aggs (bigrams,
    unigrams) + two vocab-keyed joins; the min-count floor prunes the
    bigram tail before the joins.  TakeOrdered top-k, no global
    sort."""
    d = load(spark, sf_dir, "documents", spread=True)
    t = d.select(tokens(F.col("text")).alias("t"))
    big = t.where(F.size("t") >= 2).select(
        F.explode(
            F.expr("transform(sequence(0, size(t) - 2), i -> concat_ws(' ', t[i], t[i+1]))")
        ).alias("bg")
    )
    uni = t.select(F.explode("t").alias("w"))
    cx = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n_tot = uni.agg(F.count(F.lit(1)).alias("n_tot"))
    np_ = big.agg(F.count(F.lit(1)).alias("n_pairs"))
    cxy = (
        big.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("cp"))
        .where(F.col("cp") >= _COLL_MIN_COUNT)
    )
    a = cx.select(F.col("w").alias("w_a"), F.col("c").alias("c_a"))
    b = cx.select(F.col("w").alias("w_b"), F.col("c").alias("c_b"))
    joined = (
        cxy.withColumn("w1", F.expr("split(bg, ' ')[0]"))
        .withColumn("w2", F.expr("split(bg, ' ')[1]"))
        .join(a, F.col("w1") == F.col("w_a"))
        .join(b, F.col("w2") == F.col("w_b"))
        .crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(np_))
    )
    num = (
        F.col("cp").cast("decimal(8,0)")
        * F.col("n_tot").cast("decimal(11,0)")
        * F.col("n_tot").cast("decimal(11,0)")
        * F.lit(1000000).cast("decimal(7,0)")
    )
    den = (
        F.col("n_pairs").cast("decimal(11,0)")
        * F.col("c_a").cast("decimal(9,0)")
        * F.col("c_b").cast("decimal(9,0)")
    )
    return (
        joined.select(
            F.col("bg").alias("bigram"),
            F.col("cp").cast("long").alias("c_xy"),
            F.col("c_a").cast("long").alias("c_x"),
            F.col("c_b").cast("long").alias("c_y"),
            F.floor(num.cast("double") / den.cast("double")).cast("long").alias("lift_e6"),
        )
        .orderBy(F.desc("lift_e6"), F.asc("bigram"))
        .limit(_COLL_TOPK)
    )


# ------------------------------------------------------------ phrase search

_PHRASE = ("slow", "query")  # the searched phrase, as adjacent tokens
# the tokens are spliced verbatim into a Java regex (q_phrase_search)
# and a DuckDB string literal (its oracle): only [A-Za-z0-9]+ is safe
# in both without escaping
assert all(re.fullmatch(r"[A-Za-z0-9]+", t) for t in _PHRASE), _PHRASE


_PHRASE_SQL = f"""
    WITH toks AS (
      SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS t
      FROM documents
    )
    SELECT doc_id, source
    FROM toks
    WHERE len(t) >= 2 AND list_contains(
      list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]),
      '{_PHRASE[0]} {_PHRASE[1]}')
    ORDER BY doc_id
    """


@register("q_phrase_search", sql=_PHRASE_SQL)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase search, prefilter-then-verify: candidate docs must
    contain EVERY phrase token (a cheap containment test — bigram
    adjacency implies token containment, so the prefilter is lossless
    by construction), then only candidates pay the exact adjacency
    verification.  The oracle is the naive full scan (bigram
    containment over every document), so hash equality PROVES the
    prefilter lossless.

    r15 (VERDICT r14 next #5): the r4-r14 shape materialized the
    prefilter as an INLINE inverted-index build — explode + distinct +
    countDistinct agg (3 shuffles) + a join back to a SECOND full
    spread scan of the corpus (a DataFrame referenced twice is
    computed twice) — and verified adjacency with a higher-order
    exists(transform(...)) whose lambda is INTERPRETED, not
    codegen'd: profiled ~18 µs/token, 3.6 s of the old 4.9 s wall on
    200k surviving tokens (SCALE.md r15).  An index built inline
    costs a corpus pass anyway, so both stages collapse into narrow
    predicates on ONE scan: contains() containment prefilter (bytes
    before regex) + one codegen'd rlike for the exact adjacency —
    tokens are the \\s+-split of trim(text), so adjacency ⟺ the raw
    text matches (^|\\s)w1\\s+w2(\\s|$).  5 exchanges + double scan →
    zero extra exchanges, single scan; isolated 3-pass median
    4.92 → 0.41 s at sf0.1 (12×), results byte-identical
    (sf0.001/sf0.01 parity green).  The REAL index shape at 100 TB is
    the persisted positional index — q_phrase_search_serve reads
    ~2/64 of a prebuilt postings table and shares this oracle."""
    d = load(spark, sf_dir, "documents")
    # byte-scan containment prefilter: a whitespace token is a verbatim
    # substring of text (tokens() does not case-fold), so contains() is
    # a LOSSLESS superset test — cheap bytes before the regex engine
    in_phrase = None
    for t in _PHRASE:
        c = F.col("text").contains(t)
        in_phrase = c if in_phrase is None else (in_phrase & c)
    # exact adjacency as ONE codegen'd regex: tokens are the \s+-split
    # of trim(text), so t[i] = w1 AND t[i+1] = w2 for some i  <=>  the
    # raw text matches (^|\s)w1\s+w2(\s|$) (leading/trailing
    # whitespace is absorbed by the (^|\s)/(\s|$) alternations, and
    # Java regex \s is the same class split() uses)
    rx = r"(^|\s)" + _PHRASE[0] + r"\s+" + _PHRASE[1] + r"(\s|$)"
    return (
        d.where(in_phrase)
        .where(F.col("text").rlike(rx))
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


def phrase_candidates_from_index(
    spark: SparkSession, sf_dir: str, terms: tuple[str, ...]
) -> DataFrame:
    """doc_ids containing ``terms`` as an exact adjacent phrase,
    answered ENTIRELY from the positional index: read the |terms|
    bucket-pruned posting dirs, intersect posting lists doc-wise, and
    chain position probes (a phrase of length k is one start position
    p in P1 with p+i in each P_i).  Generalizes q_phrase_search_serve
    to any phrase length; cost is |terms|/64 of the postings table
    regardless of corpus size."""
    import os

    if len(terms) < 2:
        raise ValueError("phrase needs >= 2 tokens")
    path = build_text_index(spark, sf_dir)
    dirs = sorted(
        {
            os.path.join(path, "postings", f"tbucket={_term_bucket_py(t)}")
            for t in terms
        }
    )
    # An absent bucket directory PROVES its term never occurred (the
    # writer creates a dir for every non-empty bucket): an
    # out-of-vocabulary term means zero phrase matches, so answer
    # empty instead of letting spark.read throw PATH_NOT_FOUND
    # (ADVICE r8).
    if any(not os.path.isdir(d) for d in dirs):
        return spark.createDataFrame([], "doc_id bigint")
    p = (
        spark.read.schema("term string, doc_id bigint, positions array<int>")
        .parquet(*dirs)
        .where(F.col("term").isin(list(terms)))
    )
    out = p.where(F.col("term") == terms[0]).select(
        "doc_id", F.col("positions").alias("ps0")
    )
    for i, t in enumerate(terms[1:], start=1):
        nxt = p.where(F.col("term") == t).select(
            "doc_id", F.col("positions").alias(f"ps{i}")
        )
        out = out.join(nxt, "doc_id")
    probe = " AND ".join(
        f"array_contains(ps{i}, x + {i})" for i in range(1, len(terms))
    )
    return out.where(F.expr(f"exists(ps0, x -> {probe})")).select("doc_id")


@register("q_phrase_search_serve", sql=_PHRASE_SQL)
def q_phrase_search_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase search SERVED from the persisted positional index: read
    only the term-hash partition dirs the two phrase tokens map to
    (planned driver-side from the shared md5 bucket function — no job,
    no listing), intersect the two posting lists on doc_id, and verify
    adjacency with a position-list probe (exists p in P1 with p+1 in
    P2) — document text is NEVER touched except for a broadcast-
    candidate source lookup.  At 100 TB this is the difference between
    a corpus scan per query (q_phrase_search's index-then-verify
    shape) and reading ~2/64 of a prebuilt postings table.  Shares the
    rebuild twin's oracle, so the hash check certifies the positional
    round trip end to end."""
    import os

    cand = phrase_candidates_from_index(spark, sf_dir, _PHRASE)
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    return d.join(F.broadcast(cand), "doc_id").select("doc_id", "source").orderBy(
        "doc_id"
    )


# --------------------------------------- Gopher repetition rules (r11)

# Gopher-style repetition thresholds (Rae et al. 2021 §A1.1 use 0.20
# for the top-2-gram character fraction; these token-based ppm cuts
# are calibrated on the fixture so ~10-15% of docs flag at sf0.01 —
# exact integers on both engines, no rounding-boundary hazard).
GOPHER_TOP2_PPM = 70_000    # top bigram occupies >= 7% of bigram slots
GOPHER_DUP2_PPM = 125_000   # >= 12.5% of bigram slots are repeats

_GOPHER_SQL = rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
    ), pos AS (
      SELECT doc_id, t, unnest(range(1, len(t))) AS i
      FROM toks WHERE len(t) >= 2
    ), grams AS (
      SELECT doc_id, t[i] || ' ' || t[i + 1] AS gram FROM pos
    ), gcnt AS (
      SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY doc_id, gram
    ), rep AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_bigrams,
             CAST(max(c) AS BIGINT) AS top_c,
             CAST(COALESCE(sum(CASE WHEN c >= 2 THEN c END), 0) AS BIGINT) AS dup_pos
      FROM gcnt GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams,
           CAST((top_c * 1000000) // n_bigrams AS BIGINT) AS top_bigram_ppm,
           CAST((dup_pos * 1000000) // n_bigrams AS BIGINT) AS dup_bigram_ppm,
           CAST(CASE WHEN (top_c * 1000000) // n_bigrams >= {GOPHER_TOP2_PPM}
                       OR (dup_pos * 1000000) // n_bigrams >= {GOPHER_DUP2_PPM}
                     THEN 0 ELSE 1 END AS BIGINT) AS passes
    FROM rep
    """


@register("q_gopher_repetition", sql=_GOPHER_SQL)
def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, §A1.1
    'repetitious text' filters), token-bigram flavor: per document,
    the share of bigram slots held by the single most frequent bigram
    (top_bigram_ppm) and the share of slots whose bigram occurs more
    than once (dup_bigram_ppm), plus the keep/drop verdict a curation
    pipeline consumes.  Integer ppm via the `div`/`//` bridge — full
    hash oracle, no float surface.  Complements q_quality_repetition
    (the per-SOURCE distinct-vs-total aggregate): this key emits the
    per-document verdict rows a filter stage actually joins on, and
    the top-single-bigram share is a separate Gopher rule the
    distinct-fraction signal cannot see (one gram repeated 20 times
    vs 20 grams each repeated twice).

    Bigrams come from the array-native transform trick (CLAUDE.md:
    sequence + t[i] indexing, guarded size >= 2 so sequence never
    counts down) — no posexplode + window sort of the token stream.
    Scale: explode → two hash aggs, all map-side-combinable; nothing
    data-sized crosses a window."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokenize(F.col("text")).alias("t"))
    grams = (
        toks.where(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr("transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i+1]))")
            ).alias("gram"),
        )
    )
    gcnt = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    rep = gcnt.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_bigrams"),
        F.max("c").cast("long").alias("top_c"),
        F.coalesce(F.sum(F.when(F.col("c") >= 2, F.col("c"))), F.lit(0))
        .cast("long")
        .alias("dup_pos"),
    )
    return rep.select(
        "doc_id",
        "n_bigrams",
        F.expr("CAST((top_c * 1000000) div n_bigrams AS BIGINT)").alias("top_bigram_ppm"),
        F.expr("CAST((dup_pos * 1000000) div n_bigrams AS BIGINT)").alias("dup_bigram_ppm"),
        F.expr(
            f"CAST(CASE WHEN (top_c * 1000000) div n_bigrams >= {GOPHER_TOP2_PPM}"
            f" OR (dup_pos * 1000000) div n_bigrams >= {GOPHER_DUP2_PPM}"
            " THEN 0 ELSE 1 END AS BIGINT)"
        ).alias("passes"),
    )
