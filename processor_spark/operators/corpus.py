"""End-to-end training-corpus pipeline (SURVEY.md §2.10 capstone).

Composes the individual LLM-pipeline operators into the shape a real
pretraining-data job has — and keeps the WHOLE composition under the
SQL oracle, which is the point: every stage is deterministic and
relational, so the full pipeline hash-matches DuckDB.

    documents
      → quality gate      (token-count + stopword-ratio bounds)
      → exact dedup       (md5 content hash, keep min doc_id)
      → near-dup removal  (token-3-gram Jaccard ≥ 0.5 within source;
                           survivor = smaller doc_id of each pair)
      → corpus stats      (per source: docs kept, tokens, chars)

Scale shape: two hash-aggs (quality+hash dedup), one inverted-index
self-join bounded by the blocking key (near-dup), one final agg — no
stage is worse than the standalone operators it reuses (SCALE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from processor_spark.caching import scoped_persist
from processor_spark.registry import register
from processor_spark.operators.dedup import JACCARD_THRESHOLD, NGRAM_DF_CAP
from processor_spark.operators.text import STOPWORDS, tokens
from processor_spark.sources import load

_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


@register(
    "q_corpus_pipeline",
    sql=f"""
    WITH quality AS (
      SELECT doc_id, text, source, n_chars,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM documents
      WHERE len(string_split_regex(trim(text), '\\s+')) BETWEEN 5 AND 2000
        AND len(list_filter(string_split_regex(trim(text), '\\s+'),
                            t -> list_contains({_STOP_SQL}, t)))
            <= 0.8 * len(string_split_regex(trim(text), '\\s+'))
    ), exact_kept AS (
      SELECT min(doc_id) AS doc_id FROM quality GROUP BY md5(text)
    ), survivors AS (
      SELECT q.* FROM quality q JOIN exact_kept k ON q.doc_id = k.doc_id
    ), grams AS (
      SELECT DISTINCT doc_id, source,
             tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS gram
      FROM (
        SELECT doc_id, source,
               unnest(string_split_regex(trim(text), '\\s+')) AS tok,
               generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos
        FROM survivors
      )
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      QUALIFY lead(tok, 2) OVER w IS NOT NULL
    ), grams_capped AS (
      SELECT doc_id, source, gram FROM grams
      QUALIFY count(*) OVER (PARTITION BY source, gram) <= {NGRAM_DF_CAP}
    ), sized AS (
      SELECT doc_id, count(*) AS n_grams FROM grams_capped GROUP BY doc_id
    ), near_pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM grams_capped a JOIN grams_capped b
        ON a.gram = b.gram AND a.source = b.source AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), near_dropped AS (
      SELECT DISTINCT p.doc_b AS doc_id
      FROM near_pairs p
      JOIN sized sa ON sa.doc_id = p.doc_a
      JOIN sized sb ON sb.doc_id = p.doc_b
      WHERE p.n_common / (sa.n_grams + sb.n_grams - p.n_common) >= {JACCARD_THRESHOLD}
    ), final AS (
      SELECT s.* FROM survivors s
      LEFT JOIN near_dropped d ON s.doc_id = d.doc_id
      WHERE d.doc_id IS NULL
    )
    SELECT source,
           count(*)                  AS docs_kept,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(n_chars) AS BIGINT)  AS total_chars,
           min(doc_id)               AS first_doc
    FROM final
    GROUP BY source
    """,
)
def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate → exact dedup → near-dup removal → per-source stats."""
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    quality = d.select(
        "doc_id", "text", "source", "n_chars", n_tokens.alias("n_tokens")
    ).where(
        n_tokens.between(5, 2000) & (n_stop <= 0.8 * n_tokens)
    )

    exact_kept = quality.groupBy(F.md5(F.col("text").cast("binary"))).agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")
    survivors = quality.join(exact_kept, "doc_id")

    from processor_spark.operators.dedup import _GRAM3_EXPR

    # same near-dup tier shape as q_dedup_ngram (r4): df-capped gram
    # stream (one window count — bounds every posting list, the 100 TB
    # skew guard), pairs generated locally from the cap-bounded posting
    # arrays (no gram×gram self-join shuffle).  The cap is provably
    # inert at fixture scale (max df 6), mirrored in the oracle SQL.
    wf = Window.partitionBy("source", "gram")
    grams = (
        survivors.select("doc_id", "source", tokens(F.col("text")).alias("toks"))
        .where(F.size("toks") >= 3)
        .select("doc_id", "source", F.explode(F.expr(_GRAM3_EXPR)).alias("gram"))
        .distinct()
        .withColumn("df", F.count(F.lit(1)).over(wf))
        .where(F.col("df") <= NGRAM_DF_CAP)
        .select("doc_id", "source", "gram")
        # referenced twice (size agg + posting agg) — persist so the
        # quality→dedup→tokenize pipeline runs once (CLAUDE.md rule)
        .transform(scoped_persist)
    )
    sized = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    posting = grams.groupBy("source", "gram").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    pairs = (
        posting.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) ->"
                    " transform(slice(ds, i + 2, size(ds)),"
                    " y -> struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sized.select(F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("ga"))
    sb = sized.select(F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("gb"))
    jac = F.col("n_common") / (F.col("ga") + F.col("gb") - F.col("n_common"))
    near_dropped = (
        pairs.join(sa, "doc_a").join(sb, "doc_b")
        .where(jac >= JACCARD_THRESHOLD)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    final = survivors.join(near_dropped, "doc_id", "left_anti")
    return final.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs_kept"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("first_doc"),
    )


@register(
    "q_dataset_split",
    sql="""
    WITH assigned AS (
      SELECT source,
             CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
                  WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT source, split, count(*) AS n_docs
    FROM assigned GROUP BY source, split
    """,
)
def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split assignment (80/10/10).

    The training-pipeline invariant: a document's split must be a pure
    function of its stable id — never of row order, partitioning, or a
    seeded RNG — so re-runs, backfills, and incremental appends land
    every doc in the same split on any cluster size. Knuth
    multiplicative hashing ((id * 2654435761) mod 100) is exact 64-bit
    integer arithmetic on both engines (no float, no overflow at
    fixture ids under ANSI mode). Output is the per-source split
    histogram; the assignment itself is the embarrassingly parallel
    narrow map feeding split-partitioned sink writes at 100 TB.
    """
    d = load(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * F.lit(2654435761)) % 100
    return (
        d.select(
            "source",
            F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
        )
        .groupBy("source", "split")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "q_global_shuffle",
    sql="""
    SELECT doc_id,
           row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
             AS shuffle_pos
    FROM documents
    """,
)
def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-data shuffle: every doc gets a
    reproducible pseudo-random position (rank of its id's md5 digest).

    Training jobs need the corpus in a fixed shuffled order that is
    stable across re-runs and independent of input file layout. Rank
    over a cryptographic digest of the stable id gives exactly that.

    A bare ``row_number() OVER (ORDER BY dig)`` would coalesce every
    row into ONE partition — the canonical global-window anti-pattern.
    Instead this computes the distributed rank the scale-safe way:
    range-partition by digest (disjoint ordered ranges across tasks),
    rank locally within each partition, then add the exclusive prefix
    sum of partition row-counts (a partition-count-sized table — bytes)
    as the offset. The final position is identical for ANY range
    boundaries, so sampling nondeterminism in the range partitioner
    cannot change the answer. doc_id tie-break keeps the order total
    even under (impossible) digest collisions.
    """
    from processor_spark.operators.windows import distributed_rank

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("dig")
    )
    r = distributed_rank(d, [F.asc("dig"), F.asc("doc_id")])
    return r.select("doc_id", F.col("__rank").cast("int").alias("shuffle_pos"))


@register(
    "q_contamination",
    sql="""
    WITH toks AS (
      SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS t
      FROM documents WHERE len(string_split_regex(trim(text), '\\s+')) >= 8
    ), grams AS (
      SELECT doc_id, source,
             unnest(list_transform(generate_series(1, len(t) - 7),
                                   i -> array_to_string(t[i:i+7], ' '))) AS gram
      FROM toks
    ), eval_grams AS (
      SELECT DISTINCT gram FROM grams WHERE source = 'src0'
    )
    SELECT g.doc_id, count(DISTINCT g.gram) AS shared_grams
    FROM grams g JOIN eval_grams e ON g.gram = e.gram
    WHERE g.source <> 'src0'
    GROUP BY g.doc_id
    """,
)
def q_contamination(spark: SparkSession, sf_dir: str, mode: str = "ws") -> DataFrame:
    """Benchmark-contamination check: training docs sharing any token
    8-gram with the held-out eval set (source = src0), with the count
    of distinct shared grams — the standard decontamination primitive.

    Shape at 100 TB: the eval side is tiny by construction, so its
    distinct grams BROADCAST; the train side streams through an
    explode → broadcast-semi-hash-join → partial count(distinct) — no
    shuffle ever carries a full gram inventory, only the matched
    (doc_id, gram) pairs. Gram = exact 8-token window (sliding, step
    1), the same convention as the Gopher/PaLM decontamination setups.
    """
    d = (
        load(spark, sf_dir, "documents")
        .withColumn("t", tokens(F.col("text"), mode))
        .where(F.size("t") >= 8)  # sequence(0, size-8) reverses if size<8
    )
    grams = d.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 8),
                lambda i: F.concat_ws(" ", F.slice("t", i + 1, 8)),
            )
        ).alias("gram"),
    )
    eval_grams = grams.where(F.col("source") == "src0").select("gram").distinct()
    return (
        grams.where(F.col("source") != "src0")
        .join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("shared_grams"))
    )


@register(
    "q_sample_hash",
    sql="""
    SELECT doc_id, source, n_chars,
           CAST(CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT) % 1000 AS BIGINT)
             AS sample_bucket
    FROM documents
    WHERE CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT) % 1000 < 50
    """,
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5% content-hash sample — the reproducible
    alternative to rand()-based sampling for training-data subsets.

    The keep/drop decision is a pure function of the document CONTENT
    (first 48 bits of md5(text), bucketed mod 1000), so the same
    documents are selected on any cluster size, row order, or engine —
    and re-ingested byte-identical duplicates always sample together,
    which id-hash sampling (q_dataset_split) cannot guarantee.  A
    narrow map + filter: no shuffle at all at 100 TB.
    """
    d = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("text").cast("binary")), 1, 12), 16, 10)
        .cast("long")
        % 1000
    )
    return (
        d.select("doc_id", "source", "n_chars", bucket.alias("sample_bucket"))
        .where(F.col("sample_bucket") < 50)
    )


@register(
    "q_pack_sequences",
    sql="""
    WITH sized AS (
      SELECT doc_id, source,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT doc_id, source, n_tokens,
             CAST(floor(
               (sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - n_tokens) / 512.0) AS BIGINT) AS pack_id
      FROM sized
    )
    SELECT source, pack_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
           min(doc_id) AS first_doc
    FROM packed
    GROUP BY source, pack_id
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: documents are concatenated in stable
    doc_id order into ~512-token packs (a doc starts a new pack when
    the running total BEFORE it crosses the next 512 boundary) — the
    deterministic streaming-concat packing every pretraining tokenizer
    job needs, as opposed to bin-packing heuristics whose output
    depends on iteration order.

    Packing is per-source, so the window cumsum parallelizes across
    the partition key; a single global pack order would serialize the
    scan (the same reason q_global_shuffle ranks by hashed key).
    """
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", "source", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = sized.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 512.0)
        .cast("bigint")
        .alias("pack_id"),
    )
    return packed.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


@register(
    "q_data_quality",
    sql="""
    SELECT
      (SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        AS orphan_orders,
      (SELECT count(*) FROM lineitem
        WHERE l_discount < 0.0 OR l_discount > 1.0)     AS bad_discount,
      (SELECT count(*) FROM lineitem WHERE l_quantity <= 0.0) AS nonpos_qty,
      (SELECT count(*) FROM events
        WHERE props IS NULL OR NOT json_valid(props))   AS bad_props,
      (SELECT count(*) FROM documents
        WHERE text IS NULL OR trim(text) = '')          AS empty_docs,
      (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        AS orphan_lineitems
    """,
)
def q_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline pre-flight data-quality audit in one row: referential
    orphans (orders→customer, lineitem→orders via anti joins) and
    domain-rule violations (discount out of [0,1], non-positive
    quantity, unparseable props JSON, empty documents).

    Each rule is an independent scalar aggregate; the anti joins ship
    only the key column and count — at 100 TB this is the cheap
    always-on gate you run BEFORE an ingest lands, the relational twin
    of a schema validator.  All counts are exact integers — zero float
    parity surface.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey")
    l = load(spark, sf_dir, "lineitem")
    e = load(spark, sf_dir, "events")
    d = load(spark, sf_dir, "documents")

    orphan_orders = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("orphan_orders"))
    )
    bad_discount = l.agg(
        F.sum(
            F.when((F.col("l_discount") < 0.0) | (F.col("l_discount") > 1.0), 1).otherwise(0)
        ).alias("bad_discount")
    )
    nonpos_qty = l.agg(
        F.sum(F.when(F.col("l_quantity") <= 0.0, 1).otherwise(0)).alias("nonpos_qty")
    )
    bad_props = e.agg(
        F.sum(
            F.when(
                F.col("props").isNull() | F.get_json_object("props", "$").isNull(), 1
            ).otherwise(0)
        ).alias("bad_props")
    )
    empty_docs = d.agg(
        F.sum(
            F.when(F.col("text").isNull() | (F.trim(F.col("text")) == ""), 1).otherwise(0)
        ).alias("empty_docs")
    )
    orphan_lineitems = (
        l.join(o.select("o_orderkey"), l.l_orderkey == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("orphan_lineitems"))
    )
    out = orphan_orders
    for piece in [bad_discount, nonpos_qty, bad_props, empty_docs, orphan_lineitems]:
        out = out.crossJoin(F.broadcast(piece))
    return out


MIXTURE_BUDGET = 500


@register(
    "q_corpus_mixture",
    sql=f"""
    WITH counts AS (
      SELECT source, count(*) AS n_docs,
             CAST(floor(sqrt(count(*)) * 1000000 + 0.5) AS BIGINT) AS w_micro
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(sum(w_micro) AS BIGINT) AS tot_micro FROM counts
    ), shares AS (
      SELECT source, ({MIXTURE_BUDGET} * w_micro) // tot_micro AS share
      FROM counts CROSS JOIN tot
    ), ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT),
                        doc_id
             ) AS pick_rank
      FROM documents
    )
    SELECT r.source, r.doc_id, r.pick_rank
    FROM ranked r JOIN shares s ON r.source = s.source
    WHERE r.pick_rank <= s.share
    """,
)
def q_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (α = 0.5): the standard
    LLM-pretraining reweighting that upsamples small sources —
    sampling weight ∝ n_docs^α — then draws each source's share of a
    fixed 500-doc budget deterministically by content-independent
    hash rank.

    Exactness: weights are integer micro-units (floor(sqrt(n)·1e6 +
    0.5) — sqrt of the same integer is the same IEEE double on both
    engines), shares use INTEGER division (`div` / `//`), and
    selection ranks the portable 48-bit md5 of doc_id with a doc_id
    tie-break — every step replayed bit-for-bit by the oracle.

    Scale: one hash exchange on source feeds one Window operator that
    yields both the hash rank and the source's n_docs (same spec, two
    frames).  No share exceeds MIXTURE_BUDGET, so rows ranked past it
    are dropped before the grand total; that total is an unpartitioned
    window reading at most MIXTURE_BUDGET × #sources rows (Spark's "No
    Partition Defined for Window operation" warning is expected here).
    NULL-source rows count toward the total, as in the oracle's GROUP
    BY, and are dropped after it, as by its inner join.  At 100 TB
    swap the exact rank for a hash THRESHOLD — keep h < share/n·2^48 —
    which needs no window at all; the rank form is kept here because
    it makes the budget exact.
    """
    d = load(spark, sf_dir, "documents")
    h = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 12), 16, 10)
        .cast("long")
    )
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = (
        d.select(
            "doc_id",
            "source",
            F.row_number().over(w).alias("pick_rank"),
            F.count(F.lit(1)).over(whole).alias("n_docs"),
        )
        .where(F.col("pick_rank") <= MIXTURE_BUDGET)
        .withColumn(
            "w_micro", F.floor(F.sqrt(F.col("n_docs")) * 1000000 + F.lit(0.5)).cast("long")
        )
    )
    first = F.when(F.col("pick_rank") == 1, F.col("w_micro"))
    ranked = ranked.withColumn("tot_micro", F.sum(first).over(Window.partitionBy()))
    return ranked.where(
        F.col("source").isNotNull()
        & (F.col("pick_rank") <= F.expr(f"({MIXTURE_BUDGET} * w_micro) div tot_micro"))
    ).select("source", "doc_id", "pick_rank")


@register(
    "q_sample_weighted",
    sql="""
    WITH pri AS (
      SELECT doc_id, source, n_chars,
             (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
              * 10000) // n_chars AS priority
      FROM documents
      WHERE n_chars > 0
    )
    SELECT doc_id, source, n_chars, priority
    FROM pri
    ORDER BY priority, doc_id
    LIMIT 200
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample (hash-priority variant of the
    A-ES exponential-jitter scheme): each doc draws priority
    h·1e4 // weight with h the portable 48-bit md5 of doc_id and
    weight = n_chars, and the 200 LOWEST priorities win — so heavier
    (longer) documents are proportionally more likely, yet the draw is
    a pure function of the ids (reproducible on any cluster, any row
    order).  Priorities are exact integers (no float pow/ln whose
    last-bit behavior differs between libm implementations — the
    cross-engine hazard), so the oracle replays the selection
    bit-for-bit; doc_id breaks priority ties totally.  Plan shape:
    narrow map + TakeOrderedAndProject — per-partition heaps of 200,
    no shuffle of the full table, no window.
    """
    d = load(spark, sf_dir, "documents")
    return (
        d.where(F.col("n_chars") > 0)
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.expr(
                "(CAST(conv(substring(md5(CAST(CAST(doc_id AS STRING) AS BINARY)), 1, 12), 16, 10) AS BIGINT) * 10000) div n_chars"
            ).alias("priority"),
        )
        .orderBy(F.asc("priority"), F.asc("doc_id"))
        .limit(200)
    )


@register(
    "q_ngram_novelty",
    sql=r"""
    WITH grams AS (
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id,
               tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS gram
        FROM (
          SELECT doc_id,
                 unnest(string_split_regex(trim(text), '\s+')) AS tok,
                 generate_subscripts(string_split_regex(trim(text), '\s+'), 1) AS pos
          FROM documents
        )
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        QUALIFY lead(tok, 2) OVER w IS NOT NULL
      )
    ), first_seen AS (
      SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY gram
    )
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           CAST((1000 * sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS novelty_permille
    FROM grams g JOIN first_seen f ON g.gram = f.gram
    GROUP BY g.doc_id
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty per document: the fraction of a doc's distinct
    token 3-grams whose FIRST occurrence (by doc_id order — the
    ingestion order) is in that doc.  The standard freshness metric a
    streaming corpus-curation pipeline tracks: novelty collapsing
    toward 0 means the crawl is re-reading what it already has.

    Shape: gram stream → min(doc_id) per gram (ONE map-side-combinable
    agg over the inverted index — this is the same posting-list
    partitioning the dedup tier uses) → join back on gram → per-doc
    counts.  Exact integer permille (floor), so the oracle replays the
    division bit-free.  At 100 TB the min-agg output is vocabulary-
    sized and the join is gram-partitioned — no skew beyond natural
    stop-gram frequency, and those only inflate one posting's join
    fan-out linearly (no pair explosion: this operator never builds
    doc×doc pairs)."""
    d = load(spark, sf_dir, "documents", spread=True)
    from processor_spark.operators.dedup import _GRAM3_EXPR

    grams = (
        d.select("doc_id", tokens(F.col("text")).alias("toks"))
        .where(F.size("toks") >= 3)
        .select("doc_id", F.explode(F.expr(_GRAM3_EXPR)).alias("gram"))
        .distinct()
        .transform(scoped_persist)
    )
    first_seen = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    novel = (F.col("first_doc") == F.col("doc_id")).cast("long")
    return (
        grams.join(first_seen, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(novel).alias("n_novel"),
            F.expr("CAST((1000 * sum(CAST(first_doc = doc_id AS BIGINT))) div count(1) AS BIGINT)").alias(
                "novelty_permille"
            ),
        )
    )


N_SHARDS = 64


@register(
    "q_shard_balance",
    sql=f"""
    SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
             % {N_SHARDS} AS shard,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars_sum,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id
    FROM documents
    GROUP BY shard
    """,
)
def q_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-assignment balance audit — before a 100 TB corpus is
    hash-partitioned into {N_SHARDS} output shards (for tokenizer
    workers, distributed training readers, or bucketed storage), this
    verifies the partitioner spreads BOTH document count and byte
    volume evenly: each doc routes by its portable 48-bit md5 (the
    engine-stable hash family — xxhash64 differs between engines, md5
    does not), and the per-shard row/char totals expose hot shards
    before they become stragglers.  An uneven n_chars_sum with even
    n_docs is the classic long-document skew a row-count-only check
    misses.

    Scale shape: one map-side-combinable hash agg keyed on the shard
    id ({N_SHARDS} groups); the audit costs one scan regardless of
    corpus size."""
    d = load(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 12), 16, 10)
        .cast("long")
        % N_SHARDS
    )
    return d.groupBy(shard.alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars_sum"),
        F.min("doc_id").alias("min_doc_id"),
    )


@register(
    "q_dataset_card",
    sql=r"""
    WITH base AS (
      SELECT source,
             count(*) AS n_docs,
             CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
               AS total_tokens,
             CAST(sum(n_chars) AS BIGINT) AS total_chars,
             CAST(count_if(lang = 'en') AS BIGINT) AS n_en,
             CAST(min(n_chars) AS BIGINT) AS min_chars,
             CAST(max(n_chars) AS BIGINT) AS max_chars
      FROM documents GROUP BY source
    ), dups AS (
      SELECT source, CAST(sum(n_copies - 1) AS BIGINT) AS n_dup_docs
      FROM (
        SELECT source, md5(text) AS h, count(*) AS n_copies
        FROM documents GROUP BY source, md5(text)
      ) GROUP BY source
    )
    SELECT b.source, b.n_docs, b.total_tokens, b.total_chars,
           (b.n_en * 1000) // b.n_docs AS en_permille,
           b.total_chars // b.n_docs AS avg_chars,
           b.min_chars, b.max_chars,
           (d.n_dup_docs * 1000) // b.n_docs AS dup_permille
    FROM base b JOIN dups d USING (source)
    """,
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card — the per-source datasheet a corpus release ships
    with: volume (docs / tokens / chars), language share, length
    range and mean, and the exact-duplicate rate (within-source
    md5-identical docs), each as exact integers or integer permille.
    One number here is a headline claim in a data release ("0.3%
    exact dups, 87% English"), so every cell is hash-verified.

    Scale shape: two map-side-combinable aggs over one scan each —
    the profile agg keyed on source, the dup agg keyed on
    (source, digest) then source — joined on the dim-sized source
    key.  Token counts fold into the scan projection (no explode:
    len(split) is a per-row expression)."""
    d = load(spark, sf_dir, "documents")
    base = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens("text"))).cast("long").alias(
            "total_tokens"
        ),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.count_if(F.col("lang") == "en").alias("n_en"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )
    dups = (
        d.groupBy("source", F.md5(F.col("text").cast("binary")).alias("h"))
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .groupBy("source")
        .agg(F.sum(F.col("n_copies") - 1).alias("n_dup_docs"))
    )
    return (
        base.join(dups, "source")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "total_chars",
            F.expr("(n_en * 1000) div n_docs").alias("en_permille"),
            F.expr("total_chars div n_docs").alias("avg_chars"),
            "min_chars",
            "max_chars",
            F.expr("(n_dup_docs * 1000) div n_docs").alias("dup_permille"),
        )
    )


@register(
    "q_bloom_prefilter",
    sql="""
    WITH f AS (
      SELECT doc_id, source, md5(text) AS h FROM documents
    ), pos AS (
      SELECT doc_id, source, h,
             CAST(('0x' || substr(h, 1 + 4 * u.i, 4)) AS INTEGER) % 1008 AS p
      FROM f CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) u
    ), words AS (
      SELECT p // 63 AS word_idx,
             bit_or(CAST(1 AS BIGINT) << (p % 63)) AS word
      FROM pos WHERE source = 'src0' GROUP BY 1
    ), probe AS (
      SELECT pos.doc_id, pos.source, pos.h,
             min(CASE WHEN w.word IS NULL THEN 0
                      ELSE CAST((w.word >> (pos.p % 63)) & 1 AS INTEGER)
                 END) AS member
      FROM pos LEFT JOIN words w ON pos.p // 63 = w.word_idx
      WHERE pos.source <> 'src0'
      GROUP BY 1, 2, 3
    ), eval_h AS (
      SELECT DISTINCT h FROM f WHERE source = 'src0'
    ), dochit AS (
      SELECT pr.source, pr.member,
             CASE WHEN e.h IS NOT NULL THEN 1 ELSE 0 END AS exact_hit
      FROM probe pr LEFT JOIN eval_h e ON pr.h = e.h
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(member) AS BIGINT) AS bloom_hits,
           CAST(sum(exact_hit) AS BIGINT) AS exact_hits,
           CAST(sum(member) - sum(exact_hit) AS BIGINT) AS false_pos
    FROM dochit GROUP BY source
    """,
)
def q_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-filter for cross-shard exact-duplicate probing
    — the compact-bitmap alternative to shuffling a semi-join, the
    classic 100 TB trick: the blocklist (eval shard src0 content
    fingerprints) is folded into an m-position / 4-hash Bloom bitmap
    of m/63 BIGINT words, which BROADCASTS to every executor; the
    train shards stream through a narrow probe and only bloom-positive
    docs would ever reach the (expensive) exact verification tier.
    Reported per source: docs, bloom hits, exact hits, and the
    false-positive count — the measured precision of the prefilter.
    m is sized to the blocklist cardinality; here m = 1008 (16 words,
    ~4 bits/key for the fixture's 250-doc eval shard) so the
    false-positive path is actually exercised at test scale —
    production sizing is ~10 bits/key for ~1% fp, and the bitmap stays
    a broadcastable constant independent of corpus size either way.

    Engine-exact by construction: the 4 hash positions are disjoint
    16-bit slices of one md5(text) digest (the repo's portable hash
    family) reduced mod m, bit packing is 63 bits per word (max shift
    62 — the sign bit is never touched, so DuckDB's ``<<`` and Spark's
    ``shiftleft`` agree), assembly is ``bit_or`` (no ANSI sum
    overflow), and every output is an exact integer.  Plan shape:
    build side is a ≤16-row hash-agg over the small eval shard; probe
    side is explode(4) → broadcast left join → map-side-combinable
    min() per doc → tiny per-source agg.  Nothing corpus-sized is ever
    shuffled wide.
    """
    # spread: the probe side's md5+conv work is compute-dense and sits
    # before the first exchange — a single-file fixture scan would run
    # it on 1 core (the r4 rule that cost q_dedup_minhash_md5 2×)
    d = load(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "source", F.md5(F.col("text").cast("binary")).alias("h")
    )
    pos = d.select(
        "doc_id",
        "source",
        "h",
        F.explode(
            F.array(
                *[
                    (F.conv(F.substring("h", 1 + 4 * i, 4), 16, 10).cast("int") % 1008)
                    for i in range(4)
                ]
            )
        ).alias("p"),
    ).select(
        "doc_id",
        "source",
        "h",
        F.expr("p div 63").alias("word_idx"),
        F.expr("p % 63").alias("bit"),
    )
    words = (
        pos.where(F.col("source") == "src0")
        .groupBy("word_idx")
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").alias("word"))
    )
    probe = (
        pos.where(F.col("source") != "src0")
        .join(F.broadcast(words), "word_idx", "left")
        .select(
            "doc_id",
            "source",
            "h",
            F.coalesce(
                F.expr("CAST(shiftright(word, bit) & 1 AS INT)"), F.lit(0)
            ).alias("hit"),
        )
        .groupBy("doc_id", "source", "h")
        .agg(F.min("hit").alias("member"))
    )
    eval_h = d.where(F.col("source") == "src0").select("h").distinct()
    dochit = probe.join(
        F.broadcast(eval_h.withColumn("is_eval", F.lit(1))), "h", "left"
    ).select(
        "source", "member", F.coalesce("is_eval", F.lit(0)).alias("exact_hit")
    )
    return dochit.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("member").alias("bloom_hits"),
        F.sum("exact_hit").alias("exact_hits"),
        (F.sum("member") - F.sum("exact_hit")).alias("false_pos"),
    )


@register(
    "q_vocab_growth",
    sql="""
    WITH bounds AS (
      SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents
    ), toks AS (
      SELECT (10 * (d.doc_id - b.lo)) // (b.hi - b.lo + 1) AS decile,
             unnest(string_split_regex(trim(d.text), '\\s+')) AS tok
      FROM documents d, bounds b
      WHERE length(trim(d.text)) > 0
    ), occ AS (
      SELECT decile, count(*) AS occurrences FROM toks GROUP BY decile
    ), firsts AS (
      SELECT tok, min(decile) AS first_decile FROM toks GROUP BY tok
    ), news AS (
      SELECT first_decile AS decile, count(*) AS new_types
      FROM firsts GROUP BY first_decile
    )
    SELECT o.decile,
           CAST(COALESCE(n.new_types, 0) AS BIGINT) AS new_types,
           CAST(sum(COALESCE(n.new_types, 0))
                OVER (ORDER BY o.decile) AS BIGINT) AS cum_types,
           CAST(o.occurrences AS BIGINT) AS occurrences,
           CAST(sum(o.occurrences) OVER (ORDER BY o.decile) AS BIGINT) AS cum_occurrences
    FROM occ o LEFT JOIN news n ON n.decile = o.decile
    ORDER BY o.decile
    """,
)
def q_vocab_growth(spark: SparkSession, sf_dir: str, mode: str = "ws") -> DataFrame:
    """Vocabulary-growth (Heaps' law) curve over corpus prefixes: new
    and cumulative distinct token types per doc-id decile, against
    cumulative token occurrences — how a pipeline decides whether
    more data still buys vocabulary.  The classic scale trick: NO
    per-prefix distinct recount (10x the work and a shuffle per
    prefix); a token's FIRST decile is one min-aggregate, and the
    curve falls out of a cumulative window over the 10-row decile
    table."""
    d = load(spark, sf_dir, "documents")
    bounds = d.groupBy().agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    toks = (
        d.where(F.length(F.trim(F.col("text"))) > 0)
        .crossJoin(F.broadcast(bounds))
        .select(
            F.expr("(10 * (doc_id - lo)) div (hi - lo + 1)").alias("decile"),
            F.explode(tokens(F.col("text"), mode)).alias("tok"),
        )
    )
    occ = toks.groupBy("decile").agg(F.count(F.lit(1)).alias("occurrences"))
    firsts = toks.groupBy("tok").agg(F.min("decile").alias("first_decile"))
    news = firsts.groupBy(F.col("first_decile").alias("decile")).agg(
        F.count(F.lit(1)).alias("new_types")
    )
    from pyspark.sql import Window

    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        occ.join(news, "decile", "left")
        .select(
            "decile",
            F.coalesce("new_types", F.lit(0)).cast("long").alias("new_types"),
            "occurrences",
        )
        .select(
            "decile",
            "new_types",
            F.sum("new_types").over(w).cast("long").alias("cum_types"),
            F.col("occurrences").cast("long").alias("occurrences"),
            F.sum("occurrences").over(w).cast("long").alias("cum_occurrences"),
        )
        .select(
            "decile", "new_types", "cum_types", "occurrences", "cum_occurrences"
        )
        .orderBy("decile")
    )


# ------------------------------------------------------------ resharding

_SHARDS_OLD = 16
_SHARDS_NEW = 17  # one shard added


def _hrw_pick_sql(n: int) -> str:
    """Rendezvous winner among shards 0..n-1: the max of the n
    portable 48-bit (doc, shard) digests, tie-broken by shard id
    (structmax over (weight, shard))."""
    elems = ", ".join(
        f"struct_pack(w := CAST(('0x' || substr(md5('hrw:' || CAST(doc_id AS VARCHAR)"
        f" || ':' || '{s}'), 1, 12)) AS BIGINT), s := {s})"
        for s in range(n)
    )
    return f"list_max([{elems}]).s"


def _hrw_pick_spark(n: int) -> str:
    elems = ", ".join(
        f"struct(CAST(conv(substr(md5(CAST('hrw:' || CAST(doc_id AS STRING)"
        f" || ':' || '{s}' AS BINARY)), 1, 12), 16, 10) AS BIGINT) AS w, {s} AS s)"
        for s in range(n)
    )
    return f"array_max(array({elems})).s"


@register(
    "q_reshard_moves",
    sql=f"""
    WITH assign AS (
      SELECT doc_id,
             doc_id % {_SHARDS_OLD} AS mod_old,
             doc_id % {_SHARDS_NEW} AS mod_new,
             {_hrw_pick_sql(_SHARDS_OLD)} AS hrw_old,
             {_hrw_pick_sql(_SHARDS_NEW)} AS hrw_new
      FROM documents
    )
    SELECT scheme, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_moved AS BIGINT) AS n_moved,
           CAST((n_moved * 1000000) // n_docs AS BIGINT) AS moved_e6
    FROM (
      SELECT 'mod' AS scheme, count(*) AS n_docs,
             sum(CASE WHEN mod_old <> mod_new THEN 1 ELSE 0 END) AS n_moved
      FROM assign
      UNION ALL
      SELECT 'rendezvous' AS scheme, count(*) AS n_docs,
             sum(CASE WHEN hrw_old <> hrw_new THEN 1 ELSE 0 END) AS n_moved
      FROM assign
    )
    ORDER BY scheme
    """,
)
def q_reshard_moves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resharding cost audit, mod-N vs rendezvous hashing: when the
    shard count grows 16 -> 17, how much data moves under each
    placement scheme?  Mod placement moves ~N/(N+1) of every shard;
    rendezvous (highest-random-weight) moves only the ~1/(N+1) a
    consistent scheme must — THE argument for HRW/consistent layouts
    in any 100 TB reshard plan, measured exactly.

    HRW winner = argmax over shards of the portable 48-bit md5 of
    (doc, shard) — an array_max over (weight, shard) structs, exact on
    both engines; movement fractions are integer micro-units.

    Scale shape: one narrow md5-dense map per row (spread by the
    loader) + one two-row agg; no shuffle beyond the final fold."""
    d = load(spark, sf_dir, "documents", spread=True)
    assign = d.select(
        "doc_id",
        (F.col("doc_id") % _SHARDS_OLD).alias("mod_old"),
        (F.col("doc_id") % _SHARDS_NEW).alias("mod_new"),
        F.expr(_hrw_pick_spark(_SHARDS_OLD)).alias("hrw_old"),
        F.expr(_hrw_pick_spark(_SHARDS_NEW)).alias("hrw_new"),
    )
    agg = assign.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("mod_old") != F.col("mod_new"), 1).otherwise(0)).alias(
            "mod_moved"
        ),
        F.sum(F.when(F.col("hrw_old") != F.col("hrw_new"), 1).otherwise(0)).alias(
            "hrw_moved"
        ),
    )
    rows = agg.selectExpr(
        "stack(2, 'mod', n_docs, mod_moved, 'rendezvous', n_docs, hrw_moved)"
        " AS (scheme, n_docs, n_moved)"
    )
    return rows.select(
        "scheme",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_moved").cast("long").alias("n_moved"),
        F.expr("CAST((n_moved * 1000000) div n_docs AS BIGINT)").alias("moved_e6"),
    ).orderBy("scheme")


# --------------------------------------- curriculum sharding (r10)

CURRICULUM_SHARDS = 8


@register(
    "q_curriculum_shards",
    sql=f"""
    WITH feat AS (
      SELECT doc_id,
             len(string_split_regex(trim(text), '\\s+')) AS nt,
             len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS nd
      FROM documents
    ), scored AS (
      SELECT doc_id, nt,
             CAST((nd * 1000) // nt AS BIGINT) AS diversity_permille
      FROM feat WHERE nt > 0
    ), ranked AS (
      SELECT doc_id, nt, diversity_permille,
             row_number() OVER (ORDER BY diversity_permille, nt, doc_id) AS r
      FROM scored
    ), assigned AS (
      SELECT *,
             CASE WHEN ((r - 1) // {CURRICULUM_SHARDS}) % 2 = 0
                  THEN (r - 1) % {CURRICULUM_SHARDS}
                  ELSE {CURRICULUM_SHARDS} - 1 - ((r - 1) % {CURRICULUM_SHARDS})
             END AS shard
      FROM ranked
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(diversity_permille) AS BIGINT) AS sum_diversity,
           CAST(min(diversity_permille) AS BIGINT) AS min_diversity,
           CAST(max(diversity_permille) AS BIGINT) AS max_diversity,
           CAST(sum(nt) AS BIGINT) AS sum_tokens
    FROM assigned GROUP BY shard ORDER BY shard
    """,
)
def q_curriculum_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difficulty-BALANCED curriculum sharding: rank every document by
    an exact integer difficulty proxy (lexical diversity —
    distinct-token permille of the token count — tie-broken by length
    and id for a total order), then deal ranks to shards in SNAKE
    order (0..S-1, S-1..0, ...), so every shard receives one document
    from each consecutive difficulty band.  This is how a training
    run gets S readers with near-identical difficulty distributions
    instead of hash-routing's difficulty-blind spread; the per-shard
    sum/min/max columns ARE the balance audit (sum_diversity spread
    across shards is bounded by one band's width).

    All integer (permille division, snake arithmetic) — full hash
    oracle.  The global rank is DISTRIBUTED: repartitionByRange on
    the (unique) difficulty total order, local row_number per range
    partition, plus a collected per-partition count offset (a ~32-row
    scalar action) — no single-partition window anywhere
    (plan-asserted in tests/test_plans.py); rank values are exactly
    the global row_number because the order key is unique and range
    partitioning preserves it across partitions."""
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    feat = d.select(
        "doc_id",
        F.size(toks).alias("nt"),
        F.size(F.array_distinct(toks)).alias("nd"),
    ).where(F.col("nt") > 0)
    scored = feat.select(
        "doc_id",
        "nt",
        F.expr("CAST((nd * 1000) div nt AS BIGINT)").alias("diversity_permille"),
    )
    order_cols = ["diversity_permille", "nt", "doc_id"]
    parts = scored.repartitionByRange(32, *[F.col(c) for c in order_cols]).withColumn(
        "pid", F.spark_partition_id()
    )
    # one pass materializes the partition sizes (scalar-sized collect);
    # the persist makes the ranked pass below reuse the same partition
    # layout instead of re-sampling range boundaries
    parts = scoped_persist(parts)
    sizes = {r.pid: r.n for r in parts.groupBy("pid").count().withColumnRenamed("count", "n").collect()}
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    # unknown pid = the persisted range layout was evicted and
    # re-sampled between the sizes collect and the final job; stale
    # offsets would silently mis-shard — fail the run instead
    # (ADVICE r10)
    off_expr = "CASE pid " + " ".join(
        f"WHEN {pid} THEN {off}" for pid, off in offsets.items()
    ) + (
        " ELSE raise_error(concat('q_curriculum_shards: pid ',"
        " cast(pid AS string),"
        " ' not in the collected size map — range layout recomputed"
        " after the offsets were built')) END"
    )
    w = Window.partitionBy("pid").orderBy(*order_cols)
    S = CURRICULUM_SHARDS
    assigned = parts.withColumn(
        "r", F.row_number().over(w) + F.expr(off_expr)
    ).withColumn(
        "shard",
        F.expr(
            f"CASE WHEN ((r - 1) div {S}) % 2 = 0 THEN (r - 1) % {S}"
            f" ELSE {S} - 1 - ((r - 1) % {S}) END"
        ),
    )
    return (
        assigned.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("diversity_permille").cast("long").alias("sum_diversity"),
            F.min("diversity_permille").cast("long").alias("min_diversity"),
            F.max("diversity_permille").cast("long").alias("max_diversity"),
            F.sum("nt").cast("long").alias("sum_tokens"),
        )
        .select(
            F.col("shard").cast("long").alias("shard"),
            "n_docs", "sum_diversity", "min_diversity", "max_diversity",
            "sum_tokens",
        )
        .orderBy("shard")
    )


# --------------------------------------- cross-table curation (r11)


def _curation_sql() -> str:
    from processor_spark.operators.dedup import JACCARD_THRESHOLD, _MINHASH_MD5_SQL
    from processor_spark.operators.similarity import _SEMDEDUP_SQL
    from processor_spark.operators.text import _GOPHER_SQL

    return f"""
    WITH gq AS ({_GOPHER_SQL}), sd AS ({_SEMDEDUP_SQL}), ex AS (
      SELECT doc_id, CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY md5(text))
                          THEN 1 ELSE 0 END AS pass_exact
    FROM documents
    ), fz AS (
      SELECT doc_b AS doc_id FROM ({_MINHASH_MD5_SQL}) mh
      WHERE est_jaccard >= CAST({JACCARD_THRESHOLD} AS DOUBLE)
      GROUP BY doc_b
    )
    SELECT d.doc_id, d.source,
           CAST(COALESCE(g.passes, 1) AS BIGINT) AS pass_quality,
           CAST(e.pass_exact AS BIGINT)          AS pass_exact,
           CAST(CASE WHEN f.doc_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
                                                 AS pass_fuzzy,
           CAST(COALESCE(s.kept, 1) AS BIGINT)   AS pass_semantic,
           CAST(COALESCE(g.passes, 1) * e.pass_exact
                * (CASE WHEN f.doc_id IS NULL THEN 1 ELSE 0 END)
                * COALESCE(s.kept, 1) AS BIGINT) AS kept
    FROM documents d
    JOIN ex e ON e.doc_id = d.doc_id
    LEFT JOIN gq g ON g.doc_id = d.doc_id
    LEFT JOIN fz f ON f.doc_id = d.doc_id
    LEFT JOIN sd s ON s.vec_id = d.doc_id
    """


@register("q_curation_verdicts", sql=_curation_sql())
def q_curation_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation verdicts ACROSS tables: every document gets
    one row with its four tier gates — Gopher repetition quality
    (q_gopher_repetition's per-doc verdict), exact dedup (md5
    group's lowest id survives), FUZZY dedup (q_dedup_minhash_md5's
    LSH pairs at the declared Jaccard threshold; the doc with a
    lower-id near-dup fails, r12), and SEMANTIC dedup (q_semdedup's
    verdict joined doc_id = vec_id; documents without an embedding
    pass the tier — the embed-a-subset reality the sf0.1 fixture
    encodes: 2,000 embeddings over 5,000 docs) — plus the combined
    keep bit.  The only key that joins the documents and embeddings
    tables, and the composed-oracle showcase: all three tier oracles
    are embedded verbatim as CTEs, so the hash re-certifies the whole
    gopher + minhash-LSH + k-means + ε-ball machinery through the
    final join.

    Scale: the exact gate is one window over md5 groups (dup groups
    are tiny); tier verdicts join on ids — four hash joins, no new
    corpus-sized state beyond the tiers themselves."""
    from processor_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        q_dedup_minhash_md5,
    )
    from processor_spark.operators.similarity import q_semdedup
    from processor_spark.operators.text import q_gopher_repetition

    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(F.col("text").cast("binary")))
    ex = d.select(
        "doc_id",
        "source",
        F.when(F.col("doc_id") == F.min("doc_id").over(w), 1)
        .otherwise(0)
        .cast("long")
        .alias("pass_exact"),
    )
    g = q_gopher_repetition.__wrapped__(spark, sf_dir).select(
        "doc_id", F.col("passes").alias("g_passes")
    )
    # fuzzy tier: the doc with a LOWER-id MinHash near-dup (estimated
    # Jaccard at/above the family's declared threshold) fails — the
    # group's lowest id survives, the same survivor rule as the exact
    # and semantic tiers
    fz = (
        q_dedup_minhash_md5.__wrapped__(spark, sf_dir)
        .where(F.col("est_jaccard") >= F.lit(JACCARD_THRESHOLD))
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("f_hit", F.lit(1))
    )
    s = q_semdedup.__wrapped__(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), F.col("kept").alias("s_kept")
    )
    return (
        ex.join(g, "doc_id", "left")
        .join(fz, "doc_id", "left")
        .join(s, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("g_passes", F.lit(1)).cast("long").alias("pass_quality"),
            "pass_exact",
            F.when(F.col("f_hit").isNull(), 1).otherwise(0)
            .cast("long")
            .alias("pass_fuzzy"),
            F.coalesce("s_kept", F.lit(1)).cast("long").alias("pass_semantic"),
            (
                F.coalesce("g_passes", F.lit(1))
                * F.col("pass_exact")
                * F.when(F.col("f_hit").isNull(), 1).otherwise(0)
                * F.coalesce("s_kept", F.lit(1))
            )
            .cast("long")
            .alias("kept"),
        )
    )


def _curation_funnel_sql() -> str:
    return f"""
    WITH cv AS ({_curation_sql()})
    SELECT source,
           CAST(count(*) AS BIGINT)           AS n_docs,
           CAST(sum(pass_quality) AS BIGINT)  AS n_pass_quality,
           CAST(sum(pass_exact) AS BIGINT)    AS n_pass_exact,
           CAST(sum(pass_fuzzy) AS BIGINT)    AS n_pass_fuzzy,
           CAST(sum(pass_semantic) AS BIGINT) AS n_pass_semantic,
           CAST(sum(kept) AS BIGINT)          AS n_kept,
           CAST((sum(kept) * 1000) // count(*) AS BIGINT) AS kept_permille
    FROM cv GROUP BY source
    """


@register("q_curation_funnel", sql=_curation_funnel_sql())
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation FUNNEL over the four-tier verdicts — the
    report a data-curation run actually monitors (which source loses
    how much to which gate, and the final keep rate in permille).
    Composes q_curation_verdicts' full oracle as a CTE, so the hash
    re-certifies the entire gopher × exact × minhash-LSH × SemDeDup
    pipeline one aggregation further.  Scale: one hash agg over the
    verdict stream, grouped by the low-cardinality source column —
    partial aggregation crushes it map-side."""
    cv = q_curation_verdicts.__wrapped__(spark, sf_dir)
    return cv.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("pass_quality").cast("long").alias("n_pass_quality"),
        F.sum("pass_exact").cast("long").alias("n_pass_exact"),
        F.sum("pass_fuzzy").cast("long").alias("n_pass_fuzzy"),
        F.sum("pass_semantic").cast("long").alias("n_pass_semantic"),
        F.sum("kept").cast("long").alias("n_kept"),
        F.expr("CAST((sum(kept) * 1000) div count(*) AS BIGINT)").alias(
            "kept_permille"
        ),
    )
