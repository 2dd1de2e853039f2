"""Edge / vertex construction from the pages table (SURVEY.md §7 step 3).

Reference analogues: node merge (`graph/generator.py:31-59`), edge-hash dedup
(`generator.py:111-123`), DREAMwalk network file
(`algorithms/DREAMwalk/generate_files.py:92-130`). Here the graph is two
DataFrames:

- ``vertices(id: long, url: string, type: string)``
- ``edges(src: long, dst: long, weight: double, etype: int)``

Scale design:
- vertex id = ``xxhash64(canonical_url)`` → dst ids computable WITHOUT a join
  against the vertex table (pure projection; no shuffle at extraction time).
- duplicate links collapse into ``weight`` via map-side-combinable sum.
- skew: edges carry no salt; PageRank salts hub-source edges itself
  (``plans.pagerank._prepare``, SURVEY.md §4 item 1) and AQE skew-join is
  the backstop for the non-iterative joins here.
- ``restrict_to_corpus`` drops edges whose dst is not a crawled page
  (left-semi join against vertices — broadcast when vertices are small,
  shuffle-hash otherwise; Catalyst/AQE picks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pybiodatafuse_spark.functions.extraction import extract_links_udf
from pybiodatafuse_spark.functions.ids import vertex_id
from pybiodatafuse_spark.functions.urlnorm import canonicalize_url_col


def _ensure_parallelism(pages: DataFrame) -> DataFrame:
    """Input splits are sized by BYTES (spark.sql.files.maxPartitionBytes) but
    extraction cost is CPU per row — a compact html parquet (e.g. 251 MB for
    1M pages) reads as ~2 splits and serializes the UDF stage. Measured: the
    1M-page extract+build ran 158 s at split-parallelism vs ~25 s
    repartitioned to cores. No-op when the scan already has enough splits
    (the 100 TB case — never add a shuffle there)."""
    sc = pages.sparkSession.sparkContext
    target = sc.defaultParallelism
    if pages.rdd.getNumPartitions() < target:
        return pages.repartition(target)
    return pages


def build_vertices(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """vertices(id, url, type) from the pages table. One row per canonical url."""
    return (
        _ensure_parallelism(pages)
        .select(canonicalize_url_col(F.col(url_col)).alias("url"))
        .where(F.col("url").isNotNull())
        .dropDuplicates(["url"])
        .select(vertex_id(F.col("url")).alias("id"), "url", F.lit("page").alias("type"))
    )


def build_edges(
    pages: DataFrame,
    vertices: DataFrame | None = None,
    restrict_to_corpus: bool = True,
    etype: int = 1,
) -> DataFrame:
    """edges(src, dst, weight, etype): extract links (Arrow UDF), canonicalize,
    hash to ids, collapse duplicates into weight.

    The aggregation groups on (src, dst) — Spark's hash aggregate does
    map-side partial aggregation, so hub fan-in never ships raw duplicate
    rows through the shuffle.
    """
    links = (
        _ensure_parallelism(pages)
        .select(
            canonicalize_url_col(F.col("url")).alias("page_url"),
            F.explode(extract_links_udf(F.col("html"), F.col("url"))).alias("link_url"),
        )
        .where(F.col("page_url").isNotNull())
        .select(
            vertex_id(F.col("page_url")).alias("src"),
            vertex_id(F.col("link_url")).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    if restrict_to_corpus:
        verts = vertices if vertices is not None else build_vertices(pages)
        links = links.join(verts.select(F.col("id").alias("dst")), "dst", "left_semi")
    return (
        links.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
        .withColumn("etype", F.lit(etype).cast("int"))
    )


def degrees(edges: DataFrame) -> DataFrame:
    """out_deg / in_deg per vertex id (weighted out-degree included).

    Reference analogue: neighbor-set building at
    ``algorithms/DREAMwalk/generate_files.py:240-241``.
    """
    out_d = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_deg"), F.sum("weight").alias("out_weight")
    )
    in_d = edges.groupBy(F.col("dst").alias("id")).agg(F.count(F.lit(1)).alias("in_deg"))
    return out_d.join(in_d, "id", "full_outer").fillna(
        {"out_deg": 0, "out_weight": 0.0, "in_deg": 0}
    )


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected view: union of both directions, deduplicated, weight dropped."""
    fwd = edges.select("src", "dst")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return fwd.unionByName(rev).where(F.col("src") != F.col("dst")).dropDuplicates(
        ["src", "dst"]
    )


def vertex_ids(edges: DataFrame, vertices: DataFrame | None = None) -> DataFrame:
    """Vertex set ``(id)``, deduplicated: ``vertices.id`` when given, else
    the edge endpoints."""
    if vertices is not None:
        return vertices.select("id").dropDuplicates(["id"])
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .dropDuplicates(["id"])
    )


def edge_delta(old: DataFrame, new: DataFrame) -> DataFrame:
    """Snapshot diff of two edge tables: ``(src, dst, change)`` with change ∈
    {'added', 'removed'} — the daily-crawl delta that feeds
    ``pagerank(init_ranks=yesterday)`` incremental re-ranking (two anti-joins
    on the distinct edge keys; unchanged edges never leave the scan).

    At Iceberg scale both sides are ``VERSION AS OF`` reads of the same
    table, so the anti-joins run storage-partition-aligned."""
    ok = old.select("src", "dst").dropDuplicates(["src", "dst"])
    nk = new.select("src", "dst").dropDuplicates(["src", "dst"])
    added = nk.join(ok, ["src", "dst"], "left_anti").select(
        "src", "dst", F.lit("added").alias("change")
    )
    removed = ok.join(nk, ["src", "dst"], "left_anti").select(
        "src", "dst", F.lit("removed").alias("change")
    )
    return added.unionByName(removed)
