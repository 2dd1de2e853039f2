"""Deduplication operators for large-scale training-data pipelines.

Five strategies, all shuffle-disciplined (no all-pairs cross join — the
reference's quadratic all-pairs similarity join, SURVEY.md J9, is exactly
what these replace):

- :func:`exact_duplicates` — content-hash groupBy (one shuffle).
- :func:`ngram_jaccard_pairs` — shared-shingle blocking: pairs only form
  where a shingle co-occurs, with a document-frequency cap on blocking
  shingles so stop-shingles can't create quadratic blocks.
- :func:`minhash_lsh_pairs` — MinHash signatures (k md5-derived hash
  functions, computed in ONE pass over exploded shingles) banded into LSH
  buckets; candidate pairs only within buckets.
- :func:`simhash_docs` — 16-bit SimHash per doc; equal-hash grouping.
- :func:`embedding_near_dup_pairs` — cosine near-duplicates, blocked by a
  coarse key (label or LSH bucket) to bound pair counts.

At 100 TB each of these is: scan → narrow projection → one or two shuffles on
bounded-width keys. Nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pybiodatafuse_spark.functions.text import (
    hash64,
    shingles_of_tokens,
    tokens,
)
from pybiodatafuse_spark.operators.similarity import cosine_expr


def shingle_rows(
    docs: DataFrame, id_col: str, text_col: str, n: int, partitions: int | None = None
) -> DataFrame:
    """(doc, s) exploded shingle rows, tokenizing each document exactly once.

    The repartition between the tokenize projection and the shingle transform
    is load-bearing twice over: (1) it spreads the CPU-heavy transform across
    the cluster even when the input is a few big files, and (2) it is a
    barrier Catalyst cannot collapse projections across, so the shingle
    lambda sees a *materialized* token array instead of re-inlining the
    tokenizer per element (see shingles_of_tokens PERF note)."""
    part = partitions or docs.sparkSession.sparkContext.defaultParallelism
    tk = docs.select(
        F.col(id_col).alias("doc"), tokens(F.lower(F.col(text_col))).alias("tk")
    ).repartition(part, "doc")
    return tk.select("doc", F.explode(shingles_of_tokens(F.col("tk"), n)).alias("s"))


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, group_id, group_size) for docs whose exact text occurs >1 time;
    group_id = min doc_id of the duplicate group."""
    hashed = docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("h"))
    groups = hashed.groupBy("h").agg(
        F.min(id_col).alias("group_id"), F.count(F.lit(1)).alias("group_size")
    )
    return (
        hashed.join(groups.where(F.col("group_size") > 1), "h")
        .select(id_col, "group_id", "group_size")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int = 100,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) over distinct word-n-gram shingle sets, for
    pairs sharing ≥1 blocking shingle (document frequency ≤ max_shingle_df).

    The shingle relation feeds four subplans (sizes, df filter, both join
    sides) — persist it so tokenize+shingle runs once, not four times."""
    sh = shingle_rows(docs, id_col, text_col, n).persist()
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    df_ok = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df")).where(
        F.col("df") <= max_shingle_df
    )
    blocked = sh.join(df_ok.select("s"), "s")
    a = blocked.select(F.col("doc").alias("doc_a"), "s")
    b = blocked.select(F.col("doc").alias("doc_b"), "s")
    inter = (
        a.join(b, "s")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz_a = sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sz_a, "doc_a")
        .join(sz_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text", k: int = 8, n: int = 3
) -> DataFrame:
    """(doc, sig_0..sig_{k-1}): MinHash over word-n-gram shingles; hash
    function j = hash64(shingle || '#j'). One explode + one groupBy."""
    sh = shingle_rows(docs, id_col, text_col, n)
    aggs = [
        F.min(hash64(F.concat(F.col("s"), F.lit(f"#{j}")))).alias(f"sig_{j}")
        for j in range(k)
    ]
    return sh.groupBy("doc").agg(*aggs)


def minhash_lsh_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """Candidate near-duplicate pairs (doc_a, doc_b, n_bands) sharing ≥1 LSH
    band of their MinHash signature (k sigs split into `bands` bands)."""
    if k % bands != 0:
        raise ValueError(
            f"minhash_lsh_pairs: k={k} signatures do not split into bands={bands} "
            f"equal bands; k must be a multiple of bands"
        )
    rows = k // bands
    # Persist the signature table: it is tiny (one row per doc, k ints) and
    # referenced from BOTH sides of the bucket self-join — without the persist
    # the whole shingle→minhash pipeline re-executes once per join side.
    sig = minhash_signatures(docs, id_col=id_col, text_col=text_col, k=k, n=n).persist()
    # one-pass banding: explode an inline band array instead of a k-way union
    # (a union of per-band selects re-reads sig once per band)
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "_",
                *[F.col(f"sig_{b * rows + r}").cast("string") for r in range(rows)],
            ).alias("bucket"),
        )
        for b in range(bands)
    ])
    banded = sig.select("doc", F.explode(band_structs).alias("bb")).select(
        "doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    a = banded.select(F.col("doc").alias("doc_a"), "band", "bucket")
    b_ = banded.select(F.col("doc").alias("doc_b"), "band", "bucket")
    return (
        a.join(b_, ["band", "bucket"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def simhash_docs(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, simhash) — 16-bit SimHash; equal values ⇒ near-dup cluster.

    Token hashes are projected once behind a repartition barrier so the 16
    per-bit folds see a materialized array (not 16× tokenize+md5 per row)."""
    from pybiodatafuse_spark.functions.text import (
        simhash16_of_hashes,
        token_hashes,
    )

    part = docs.sparkSession.sparkContext.defaultParallelism
    th = docs.select(
        F.col(id_col), token_hashes(F.col(text_col)).alias("th")
    ).repartition(part, id_col)
    return th.select(F.col(id_col), simhash16_of_hashes(F.col("th")).alias("simhash"))


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.95,
) -> DataFrame:
    """(id_a, id_b, cos) pairs with cosine ≥ threshold within blocking key
    groups (a label, cluster id, or LSH bucket from similarity.lsh_buckets)."""
    a = embeddings.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), F.col(block_col).alias("blk")
    )
    b = embeddings.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), F.col(block_col).alias("blk")
    )
    return (
        a.join(b, "blk")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine_expr(F.col("va"), F.col("vb")), 6).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def near_dup_clusters(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    canonical: str = "quality",
) -> DataFrame:
    """Near-duplicate CLUSTERING — the full dedup pipeline stage a training-
    data pipeline actually runs: MinHash+LSH candidate pairs → connected
    components over the pair graph → one canonical doc per cluster.

    ``canonical="quality"`` (default): the keeper is the HIGHEST-quality doc
    in the cluster (functions.text.quality_score, tie-break lowest doc id) —
    what a real training-data pipeline keeps; ``canonical="min_id"`` keeps
    the lowest id (cheaper: no text pass).

    Returns (doc_id, cluster_id, is_canonical) for EVERY input doc (docs
    with no near-dup form their own singleton cluster). Scale shape: LSH
    banding is bucketed (no all-pairs), components is the small-star/
    large-star superstep plan, the final join is on doc_id, and the quality
    argmax is a window partitioned BY CLUSTER (no global sort) — every
    stage is shuffle-bounded by candidate-pair count, not N².
    """
    from pybiodatafuse_spark.plans.components import components

    spark = docs.sparkSession
    pairs = minhash_lsh_pairs(docs, id_col=id_col, text_col=text_col, k=k, bands=bands, n=n)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"),
        F.lit(1.0).alias("weight"), F.lit(1).cast("int").alias("etype"),
    )
    ids = docs.select(F.col(id_col).alias("id")).dropDuplicates(["id"])
    comp = components(spark, edges, ids)
    clusters = comp.select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    if canonical == "min_id":
        return clusters.select(
            "doc_id",
            "cluster_id",
            (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
        )
    if canonical != "quality":
        raise ValueError(f"canonical must be 'quality' or 'min_id': {canonical}")
    from pyspark.sql import Window

    from pybiodatafuse_spark.functions.text import quality_score

    qual = docs.select(
        F.col(id_col).alias("doc_id"), quality_score(F.col(text_col)).alias("_q")
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("_q"), F.asc("doc_id"))
    return (
        clusters.join(qual, "doc_id")
        .withColumn("_rn", F.row_number().over(w))
        .select("doc_id", "cluster_id", (F.col("_rn") == 1).alias("is_canonical"))
    )


def contamination_pairs(
    corpus: DataFrame,
    probes: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark-contamination detection: ``(corpus_id, probe_id,
    shared_ngrams, probe_ngrams, overlap)`` for corpus documents sharing ≥
    ``min_shared`` distinct word-n-grams with a probe document (the standard
    eval-set decontamination pass of an LLM training pipeline; n=13 in
    GPT-3-style filtering, smaller here for the synthetic fixture).

    Plan shape: shingle both sides once (tokenize-once barrier), distinct per
    doc, then ONE equi-join on the shingle string — work is bounded by
    shingle collisions, never |corpus| × |probes|. At 100 TB the probe side
    is small (an eval set): its shingle relation broadcasts and the corpus
    scans once."""
    cs = shingle_rows(corpus, id_col, text_col, n).dropDuplicates(["doc", "s"])
    ps = (
        shingle_rows(probes, id_col, text_col, n)
        .dropDuplicates(["doc", "s"])
        .select(F.col("doc").alias("probe"), "s")
    )
    p_sizes = ps.groupBy("probe").agg(F.count(F.lit(1)).alias("probe_ngrams"))
    shared = (
        cs.join(ps, "s")
        .groupBy(F.col("doc").alias("corpus_id"), F.col("probe").alias("probe_id"))
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
        .where(F.col("shared_ngrams") >= min_shared)
    )
    return shared.join(
        p_sizes.select(F.col("probe").alias("probe_id"), "probe_ngrams"), "probe_id"
    ).select(
        "corpus_id",
        "probe_id",
        "shared_ngrams",
        "probe_ngrams",
        (F.col("shared_ngrams") / F.col("probe_ngrams")).alias("overlap"),
    )
