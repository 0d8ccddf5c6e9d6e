"""Benchmark decontamination + repetition quality filters.

Three curation operators every large-scale training-data pipeline
runs before a corpus ships (beyond the reference's surface — north
star extensions like the rest of ``llm/``):

* ``benchmark_contamination`` — n-gram collision scan of the corpus
  against an evaluation set: any training document sharing enough
  n-grams with a benchmark document leaks eval data into training.
  The standard decontamination pass (GPT-2/3 appendix style, done
  with 8-13-grams there; word 3-grams here to match the corpus'
  ~100-token documents and the shared shingle infrastructure).
* ``repetition_scores`` — Gopher-style repetition quality signals:
  duplicate-token ratio, duplicate-bigram ratio, top-token share.
  Degenerate generated/boilerplate text scores high and gets
  filtered before training.
* ``cross_source_overlap`` — content overlap matrix between source
  shards (distinct shared shingles per source pair): the provenance
  diagnostic run before mixing crawls, to find sources that are
  re-crawls of each other.

Scale design: the benchmark set is small by nature (eval suites are
thousands of documents), so the contamination join BROADCASTS the
benchmark grams and the corpus side never shuffles for the probe —
cost is one corpus scan regardless of corpus size; per-row fan-out is
bounded by the benchmark's occurrence list for that gram.
``repetition_scores`` is pure per-row array arithmetic in codegen
(zero shuffle). ``cross_source_overlap`` self-joins the distinct
(shingle, source) projection, whose fan-out is bounded by the source
count, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query
from ..determinism import ngram_starts_sql
from .dedup import _SHINGLES_SQL, shingles_cached, shingles_of

# Deterministic evaluation-set stand-in: every 10th document. A real
# pipeline loads the benchmark suite as its own table; the dataflow
# (small side broadcast, gram-collision probe) is identical.
BENCH_MOD = 10
MIN_SHARED = 2  # flag pairs sharing at least this many distinct grams


@query(
    "benchmark_contamination",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    cnt AS (
        SELECT doc_id, COUNT(*) AS n_grams FROM shingles GROUP BY doc_id
    ),
    pairs AS (
        SELECT c.doc_id, b.doc_id AS bench_id, COUNT(*) AS n_shared
        FROM shingles c
        JOIN shingles b ON c.shingle = b.shingle
        WHERE b.doc_id % {BENCH_MOD} = 0 AND c.doc_id % {BENCH_MOD} != 0
        GROUP BY 1, 2
        HAVING COUNT(*) >= {MIN_SHARED}
    )
    SELECT p.doc_id, p.bench_id, p.n_shared,
           CAST(p.n_shared AS DOUBLE) / cnt.n_grams AS contamination_ratio
    FROM pairs p JOIN cnt ON cnt.doc_id = p.doc_id
    """,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training documents sharing >= MIN_SHARED distinct word 3-grams
    with a benchmark document, with the shared fraction of the
    training doc's gram set. Decontamination = drop (or audit) every
    doc_id this emits.

    Physical plan: benchmark grams (small by nature) broadcast; the
    corpus gram stream probes them without shuffling, then only the
    surviving candidates shuffle for the per-pair count — at 100 TB
    the cost is the corpus scan plus a candidate-sized aggregation.
    The per-document gram-count enrichment joins by SHUFFLE, not
    broadcast: ``n_grams`` is O(corpus documents), and the pairs side
    is already post-filter small, so the shuffle is candidate-sized
    while a broadcast would have to ship the whole corpus's counts to
    every executor."""
    sh = shingles_cached(spark, sf_dir)
    bench = (
        sh.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select(F.col("doc_id").alias("bench_id"), "sh_h")
    )
    corpus = sh.filter(F.col("doc_id") % BENCH_MOD != 0)
    n_grams = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    pairs = (
        corpus.join(F.broadcast(bench), "sh_h")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= MIN_SHARED)
    )
    return pairs.join(n_grams, "doc_id").select(
        "doc_id",
        "bench_id",
        "n_shared",
        (F.col("n_shared").cast("double") / F.col("n_grams")).alias(
            "contamination_ratio"
        ),
    )


_REPETITION_ORACLE = """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bi AS (
        SELECT doc_id, t,
               list_transform(generate_series(1, len(t) - 1),
                              i -> array_to_string(t[i:i+1], ' ')) AS b
        FROM toks
    )
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_tokens,
           CAST(len(t) - len(list_distinct(t)) AS DOUBLE) / len(t)
               AS dup_token_ratio,
           CAST(list_max(list_transform(list_distinct(t),
                    d -> len(list_filter(t, x -> x = d)))) AS DOUBLE) / len(t)
               AS top_token_share,
           CAST(len(b) - len(list_distinct(b)) AS DOUBLE) / len(b)
               AS dup_bigram_ratio
    FROM bi
    """


def _repetition_projection(docs: DataFrame) -> DataFrame:
    """The repetition-signal projection, shared by the batch query
    and its streaming twin (they also share ``_REPETITION_ORACLE``):
    one definition, so the hash-checked batch/streaming parity cannot
    silently drift when a formula is tuned."""
    t = F.split("text", " ")
    base = docs.select("doc_id", t.alias("t")).select(
        "doc_id",
        "t",
        F.expr(
            f"transform({ngram_starts_sql('t', 2)},"
            " i -> concat_ws(' ', t[i-1], t[i]))"
        ).alias("b"),
    )
    n = F.size("t").cast("bigint")
    nd = F.size(F.array_distinct("t")).cast("bigint")
    nb = F.size("b").cast("bigint")
    nbd = F.size(F.array_distinct("b")).cast("bigint")
    top = F.expr(
        "array_max(transform(array_distinct(t),"
        " d -> size(filter(t, x -> x = d))))"
    ).cast("double")
    return base.select(
        "doc_id",
        n.alias("n_tokens"),
        nd.alias("n_distinct_tokens"),
        ((n - nd).cast("double") / n).alias("dup_token_ratio"),
        (top / n).alias("top_token_share"),
        # NULL for <2-token docs (nb = 0): matches the oracle's
        # DuckDB x/0 -> NULL and avoids an ANSI divide-by-zero.
        F.when(nb > 0, (nb - nbd).cast("double") / nb).alias(
            "dup_bigram_ratio"
        ),
    )


@query("repetition_scores", oracle=_REPETITION_ORACLE)
def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals (Gopher quality-filter family):
    duplicate-token ratio, most-frequent-token share, duplicate-bigram
    ratio. Pure array lambdas inside codegen — zero shuffle; at 100 TB
    this is a narrow map over the corpus scan, like ``doc_chunks``.
    The O(distinct x tokens) top-share fold is trivial next to the
    scan for ~100-token documents."""
    return _repetition_projection(table(spark, sf_dir, "documents"))


@query(
    "cross_source_overlap",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    src AS (
        SELECT DISTINCT s.shingle, d.source
        FROM shingles s JOIN documents d ON d.doc_id = s.doc_id
    )
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS n_shared_shingles
    FROM src a
    JOIN src b ON a.shingle = b.shingle AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct shared word-3-grams per source pair — the provenance
    overlap matrix a pipeline inspects before mixing crawl sources
    (two sources sharing most of their shingles are re-crawls of the
    same content, and training would double-weight it).

    The self-join runs on the distinct (shingle, source) projection:
    per-shingle fan-out is bounded by the number of sources (20 here,
    hundreds at worst in practice), never by corpus size."""
    sh = shingles_cached(spark, sf_dir)
    src_of = table(spark, sf_dir, "documents").select("doc_id", "source")
    ss = sh.join(src_of, "doc_id").select("sh_h", "source").distinct()
    a, b = ss.alias("a"), ss.alias("b")
    return (
        a.join(
            b,
            (F.col("a.sh_h") == F.col("b.sh_h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


# --- composite curation verdict -----------------------------------------

# Thresholds calibrated to the fixture distributions (p90s): flag the
# worst ~10% on each signal so the verdict genuinely splits a corpus.
MAX_DUP_TOKEN_RATIO = 0.68
MAX_TOP_TOKEN_SHARE = 0.14
MIN_TOKENS = 15

_DUP_NEAR_SQL = """
    halves AS (
        SELECT doc_id, simhash, 0 AS half, simhash % 65536 AS hv FROM simhashes
        UNION ALL
        SELECT doc_id, simhash, 1 AS half, simhash // 65536 AS hv FROM simhashes
    ),
    near_drop AS (
        SELECT DISTINCT b.doc_id
        FROM halves a
        JOIN halves b ON a.half = b.half AND a.hv = b.hv
                     AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
    )
"""


def _curation_oracle() -> str:
    from .dedup import _SIMHASH_SQL

    return f"""
    WITH {_SIMHASH_SQL},
    {_DUP_NEAR_SQL},
    m AS (
        SELECT doc_id, text, string_split(text, ' ') AS t FROM documents
    ),
    sig AS (
        SELECT doc_id,
               CAST(len(t) AS BIGINT) AS n_tokens,
               CAST(len(t) - len(list_distinct(t)) AS DOUBLE) / len(t)
                   AS dup_token_ratio,
               CAST(list_max(list_transform(list_distinct(t),
                        d -> len(list_filter(t, x -> x = d)))) AS DOUBLE)
                   / len(t) AS top_token_share,
               MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
        FROM m
    )
    SELECT s.doc_id,
           -- COALESCE: DuckDB's array_to_string of an all-filtered
           -- list yields NULL; Spark's array_join yields ''.
           COALESCE(array_to_string(list_filter([
               CASE WHEN s.top_token_share > {MAX_TOP_TOKEN_SHARE}
                    THEN 'dominated' END,
               CASE WHEN s.canonical_id != s.doc_id THEN 'dup-exact' END,
               CASE WHEN nd.doc_id IS NOT NULL THEN 'dup-near' END,
               CASE WHEN s.dup_token_ratio > {MAX_DUP_TOKEN_RATIO}
                    THEN 'repetitive' END,
               CASE WHEN s.n_tokens < {MIN_TOKENS} THEN 'short' END
           ], x -> x IS NOT NULL), ','), '') AS drop_reasons,
           CASE WHEN s.top_token_share <= {MAX_TOP_TOKEN_SHARE}
                 AND s.canonical_id = s.doc_id
                 AND nd.doc_id IS NULL
                 AND s.dup_token_ratio <= {MAX_DUP_TOKEN_RATIO}
                 AND s.n_tokens >= {MIN_TOKENS}
                THEN TRUE ELSE FALSE END AS keep
    FROM sig s LEFT JOIN near_drop nd ON nd.doc_id = s.doc_id
    """


@query("curation_verdicts", oracle=_curation_oracle())
def curation_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-curation verdict — the query a pipeline
    actually ships: per document, keep/drop plus the reasons, composed
    from exact dedup (non-canonical copies drop), SimHash near-dup
    (the larger doc_id of each d<=1 pair drops), repetition, token
    dominance, and length. Reasons are a fixed-order comma-joined
    scalar so the whole verdict is hash-checkable.

    Physical shape: the signal computations are the same zero-shuffle
    array lambdas as ``repetition_scores``; exact-dup canonicalization
    is one window over the content hash; the near-dup flag reuses the
    pigeonhole-banded SimHash join (bounded candidates). Everything
    composes in one pass over the corpus plus the bounded pair join —
    no all-pairs stage anywhere."""
    from pyspark.sql import Window

    from .dedup import simhash_neardup_pairs

    docs = table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    base = docs.select("doc_id", F.md5("text").alias("chash"), t.alias("t"))
    n = F.size("t").cast("bigint")
    nd = F.size(F.array_distinct("t")).cast("bigint")
    top = F.expr(
        "array_max(transform(array_distinct(t),"
        " d -> size(filter(t, x -> x = d))))"
    ).cast("double")
    sig = base.select(
        "doc_id",
        n.alias("n_tokens"),
        ((n - nd).cast("double") / n).alias("dup_token_ratio"),
        (top / n).alias("top_token_share"),
        F.min("doc_id").over(Window.partitionBy("chash")).alias("canonical_id"),
    )
    near = (
        simhash_neardup_pairs(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("is_near", F.lit(True))
    )
    v = sig.join(near, "doc_id", "left")
    reasons = F.array_join(
        F.filter(
            F.array(
                F.when(
                    F.col("top_token_share") > MAX_TOP_TOKEN_SHARE, "dominated"
                ),
                F.when(F.col("canonical_id") != F.col("doc_id"), "dup-exact"),
                F.when(F.col("is_near"), "dup-near"),
                F.when(
                    F.col("dup_token_ratio") > MAX_DUP_TOKEN_RATIO, "repetitive"
                ),
                F.when(F.col("n_tokens") < MIN_TOKENS, "short"),
            ),
            lambda x: x.isNotNull(),
        ),
        ",",
    )
    return v.select(
        "doc_id",
        reasons.alias("drop_reasons"),
        (reasons == "").alias("keep"),
    )


@query("streaming_repetition_filter", oracle=_REPETITION_ORACLE)
def streaming_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``repetition_scores`` through the STREAMING engine: the
    stateless quality filter applied as documents arrive (append
    mode), the shape of an ingest-time curation gate. Stateless map =
    identical results to the batch twin on a bounded replay, so it
    shares the batch oracle verbatim — streaming/batch parity is
    hash-checked, not assumed."""
    from ..streaming.core import _as_stream_dir, run_to_memory

    docs = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).parquet(_as_stream_dir(f"{sf_dir}/documents.parquet"))
    out = _repetition_projection(docs)
    return run_to_memory(spark, out, "stream_repetition", "append")


@query(
    "streaming_contamination_gate",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    pairs AS (
        SELECT c.doc_id, b.doc_id AS bench_id, COUNT(*) AS n_shared
        FROM shingles c
        JOIN shingles b ON c.shingle = b.shingle
        WHERE b.doc_id % {BENCH_MOD} = 0 AND c.doc_id % {BENCH_MOD} != 0
        GROUP BY 1, 2
        HAVING COUNT(*) >= {MIN_SHARED}
    ),
    hits AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bench_hits
        FROM pairs GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(h.n_bench_hits, 0) AS BIGINT) AS n_bench_hits,
           h.doc_id IS NULL AS keep
    FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
    WHERE d.doc_id % {BENCH_MOD} != 0
    """,
)
def streaming_contamination_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``benchmark_contamination`` as an INGEST-TIME gate (VERDICT r8
    item 7c): documents arrive in micro-batches and each batch is
    scanned against the static benchmark gram set inside
    ``foreachBatch`` — the decontamination decision is made before a
    document ever lands in the corpus, pairing with
    ``streaming_repetition_filter`` to complete the streaming curation
    pipeline (quality + leakage in one pass shape).

    Per batch: shingle the arriving documents with the SHARED kernel
    (``shingles_of`` — the same code as the batch scan, so the gate
    can never drift from the audit), probe the broadcast benchmark
    grams, and emit one verdict row per document (``n_bench_hits``
    benchmark docs sharing >= {MIN_SHARED} grams; ``keep`` when none).
    A document's grams are derived per-row, and the benchmark side is
    static, so the verdict is batch-local — bounded replay equals the
    batch left join exactly, and the oracle is the batch SQL verbatim.

    Exactly-once: verdicts write to a batch_id-keyed directory with
    overwrite (idempotent replay), the ``lsh_index_step`` discipline.
    Scale: the benchmark set is eval-suite-sized by nature, so the
    probe broadcasts it and the arriving batch never shuffles for the
    scan; per-batch cost is one pass over the batch regardless of
    corpus size."""
    import os
    import shutil
    import tempfile

    from ..streaming.core import drive_arrivals

    bench = (
        shingles_cached(spark, sf_dir)
        .filter(F.col("doc_id") % BENCH_MOD == 0)
        .select(F.col("doc_id").alias("bench_id"), "sh_h")
    )
    work = tempfile.mkdtemp(prefix="contam_gate_")
    out_dir = os.path.join(work, "verdicts")

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        corpus = batch_df.filter(F.col("doc_id") % BENCH_MOD != 0)
        sh = shingles_of(corpus).select("doc_id", "sh_h")
        hits = (
            sh.join(F.broadcast(bench), "sh_h")
            .groupBy("doc_id", "bench_id")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= MIN_SHARED)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bench_hits"))
        )
        verdicts = (
            corpus.select("doc_id")
            .join(hits, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_bench_hits", F.lit(0).cast("long")).alias(
                    "n_bench_hits"
                ),
                F.col("n_bench_hits").isNull().alias("keep"),
            )
        )
        verdicts.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"b{batch_id}")
        )

    drive_arrivals(spark, sf_dir, "documents", gate, work)
    out = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(out_dir)
        .localCheckpoint()  # sever lineage from the temp dirs
    )
    shutil.rmtree(work, ignore_errors=True)
    return out
