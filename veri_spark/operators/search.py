"""The KNN search pipeline — the reference's entire query surface.

Every search is one DataFrame program (SURVEY.md section 3.1; reference:
data/search.go:130-377, data/aggregator.go) in the filter-and-refine form of
distributed top-k similarity search. Only candidate generation varies by
search kind; the rest is written once:

    candidates -> filter -> score -> context re-score -> dedup keep-best
               -> grouped reduce (group_limit > 0) | top result_limit/limit

- Candidates come from a full corpus scan (exact search, and ``Annoy*``
  search on a dataset with no fresh index), an IVF probe of the dataset's
  index with an optional PQ prune after the filter (``Annoy*`` score
  functions, ``FeatureStore._approx_search``), or the broadcast cross join
  of a query set (``multi_search``).
- ``filter_candidates`` is the one filter: TTL, then JSON paths on
  ``label``, then on ``group_label``. Filters are plain predicates applied
  before scoring, so on a scan they push into the parquet reader.
- ``refine`` is the single-query tail (K6, K8-K13). ``multi_search``
  scores its cross join the same way and keeps a per-query top-k (K7).

The reference's scatter-gather across peers (data/search.go:161-241) IS
Spark's partial-topk + shuffle + final-topk; its multi-query goroutine fan-out
(data/search.go:254-298) IS a broadcast join of the (tiny) query set against
the corpus. No channels, no timeout decay — Catalyst plans it, and results
are deterministic (ties broken on the id column), which the reference
explicitly is not (README.md:22).

Scale notes (100 TB posture):
- The query side of ``multi_search`` is always broadcast — queries are
  human-issued and small; the corpus never shuffles for scoring. A query
  set too large to broadcast belongs on similarity.ivf_multi_search, which
  replaces the cross product with an equi-join on probed centroid buckets.
- Per-query/grouped top-k uses row_number windows, which Spark >= 3.5 plans
  with ``WindowGroupLimit`` (per-partition bounded heaps before the shuffle).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from veri_spark.functions.vector import score_fn
from veri_spark.operators.topk import dedup_keep_best, topk, topk_per_group


@dataclass
class SearchConfig:
    """Mirror of the reference SearchConfig (veriservice.proto:26-45).

    Dropped knobs, per SURVEY.md section 4.3: ``timeout`` (precision-vs-time
    has no deterministic Spark analog), ``uuid`` (DAGs cannot recurse),
    ``cacheDuration`` (use ``DataFrame.persist``). Also dropped:
    ``codegen_unroll``, an opt-in unrolled kernel for corpus scans that
    measured about 1 s slower per query (SCALING.md "Codegen discipline").
    The K14 result-cache key is ``asdict(config)`` (FeatureStore.search), so
    results cached while the field existed miss once.
    """

    score_func: str = "VectorDistance"  # proto:27 scoreFuncName
    higher_is_better: bool | None = None  # proto:29; None = score_func default
    limit: int = 10  # proto:31 per-source limit
    group_limit: int = 0  # proto:33; >0 enables grouping (search.go:271-274)
    result_limit: int | None = None  # proto:39 final truncation
    filters: Sequence[str] = field(default_factory=tuple)  # proto:36 on label
    group_filters: Sequence[str] = field(default_factory=tuple)  # proto:34
    # proto:35 GroupScoreFuncName is DECLARED in the reference but never
    # read (SURVEY.md section 2.7); we implement the declared semantics:
    # "" = the reference's hardcoded One() formula (sum if higher-is-better,
    # else sum/n^2); also: "sum", "mean", "best", "sum_over_n2".
    group_score_func: str = ""

    def resolve(self):
        builder, default_hib = score_fn(self.score_func)
        hib = default_hib if self.higher_is_better is None else self.higher_is_better
        return builder, hib


def json_path_filter(df: DataFrame, column: str, paths: Sequence[str]) -> DataFrame:
    """JSON path-existence filter (reference F1/F2, data/search.go:88-109):
    a row passes iff every path exists in the JSON held by ``column``.

    Paths use ``a.b.c`` notation like gjson; non-JSON content never matches
    (``get_json_object`` returns NULL), same as gjson on invalid input.
    """
    out = df
    for p in paths:
        out = out.filter(F.get_json_object(F.col(column), f"$.{p}").isNotNull())
    return out


def ttl_filter(df: DataFrame, expire_col: str = "expire_at", now: Column | None = None) -> DataFrame:
    """Drop expired rows (reference lazy TTL, data/newsync.go:78-80).

    NULL ``expire_col`` means no TTL. Batch analog of the reference's
    delete-on-scan: expiry is a predicate; physical deletion is a separate
    compaction concern (operators/mutation.py).
    """
    if expire_col not in df.columns:
        return df
    now = now if now is not None else F.current_timestamp()
    return df.filter(F.col(expire_col).isNull() | (F.col(expire_col) > now))


def filter_candidates(
    candidates: DataFrame,
    config: SearchConfig,
    label_col: str = "label",
    group_col: str = "group_label",
) -> DataFrame:
    """The candidate filter of every search, whatever generated the
    candidates (reference PassesFilters, data/search.go:311-327): TTL, then
    ``config.filters`` on ``label_col``, then ``config.group_filters`` on
    ``group_col``. A JSON filter on a column the candidates lack is a no-op.
    """
    df = ttl_filter(candidates)
    if config.filters and label_col in df.columns:
        df = json_path_filter(df, label_col, config.filters)
    if config.group_filters and group_col in df.columns:
        df = json_path_filter(df, group_col, config.group_filters)
    return df


def score_corpus(
    corpus: DataFrame,
    query_vector: Sequence[float],
    config: SearchConfig,
    vector_col: str = "feature",
    label_col: str = "label",
    group_col: str = "group_label",
) -> DataFrame:
    """Filter + score every row against one literal query vector (K1)."""
    builder, _ = config.resolve()
    df = filter_candidates(corpus, config, label_col, group_col)
    return df.withColumn("score", builder(F.col(vector_col), list(query_vector)))


def search(
    corpus: DataFrame,
    query_vector: Sequence[float],
    config: SearchConfig | None = None,
    vector_col: str = "feature",
    id_cols: Sequence[str] = (),
    **kw,
) -> DataFrame:
    """Single-query KNN: the reference's Search + Collector (K1+K3+K4,
    data/search.go:347-377). Returns the corpus row + ``score``, best
    ``limit`` rows first.
    """
    config = config or SearchConfig()
    _, hib = config.resolve()
    scored = score_corpus(corpus, query_vector, config, vector_col=vector_col, **kw)
    return topk(scored, "score", config.limit, hib, tie_cols=list(id_cols))


def multi_search(
    corpus: DataFrame,
    queries: DataFrame,
    config: SearchConfig | None = None,
    vector_col: str = "feature",
    query_vector_col: str = "query_vector",
    query_id_col: str = "query_id",
    id_cols: Sequence[str] = (),
    group_col: str = "group_label",
    context_vectors: Sequence[Sequence[float]] = (),
    prioritize_context: bool = False,
) -> DataFrame:
    """Multi-query KNN (K7, data/search.go:254-298): broadcast the query set
    against the filtered corpus, score, per-query top-k.

    ``queries`` must carry (``query_id_col``, ``query_vector_col``) and be
    small enough to broadcast; for a dataset-vs-dataset KNN join use
    similarity.ivf_multi_search.
    """
    config = config or SearchConfig()
    builder, hib = config.resolve()
    df = filter_candidates(corpus, config, group_col=group_col)
    joined = df.crossJoin(F.broadcast(queries))
    scored = joined.withColumn(
        "score", builder(F.col(vector_col), F.col(query_vector_col))
    ).drop(query_vector_col)
    # K12 applies to the multi-query merge too (the reference re-scores in
    # the shared aggregator, data/search.go:277-294 -> aggregator.go:56-76)
    scored = context_rescore(
        scored, context_vectors, config, vector_col=vector_col,
        prioritize=prioritize_context,
    )
    return topk_per_group(
        scored, [query_id_col], "score", config.limit, hib, tie_cols=list(id_cols)
    )


def context_rescore(
    scored: DataFrame,
    context_vectors: Sequence[Sequence[float]],
    config: SearchConfig,
    vector_col: str = "feature",
    prioritize: bool = False,
) -> DataFrame:
    """Context re-scoring (K12, data/aggregator.go:56-76; proto:42-45).

    Each result's score becomes the best of (original score, score against
    each context vector); with ``prioritize`` the original query score is
    ignored entirely. "Best" = max when higher_is_better else min.
    """
    if not context_vectors:
        return scored
    builder, hib = config.resolve()
    candidates = [builder(F.col(vector_col), list(v)) for v in context_vectors]
    if not prioritize:
        candidates = [F.col("score"), *candidates]
    if len(candidates) == 1:
        best = candidates[0]
    else:
        best = F.greatest(*candidates) if hib else F.least(*candidates)
    return scored.withColumn("score", best)


def group_reduce(
    scored: DataFrame,
    config: SearchConfig,
    group_col: str = "group_label",
    id_cols: Sequence[str] = (),
) -> DataFrame:
    """Grouped aggregation of search results (K9-K11,
    data/aggregator.go:105-180).

    1. per-group top-``group_limit`` rows (K9);
    2. group representative = the group's best row, group score =
       sum(scores) when higher_is_better else sum(scores)/count^2 — the
       hardcoded ``One()`` formula (K10, data/aggregator.go:155-180;
       ``GroupScoreFuncName`` exists in the proto but is never read);
    3. final ordering by group score with global limit / result_limit (K11).

    Returns one row per group: the representative's columns plus
    ``group_score`` and ``group_size``.
    """
    _, hib = config.resolve()
    limited = topk_per_group(
        scored, [group_col], "score", max(config.group_limit, 1), hib,
        tie_cols=list(id_cols), rank_col="__rank",
    )
    others = [c for c in limited.columns if c not in (group_col, "score", "__rank")]
    agg = limited.groupBy(group_col).agg(
        F.sum("score").alias("__sum_score"),
        (F.max("score") if hib else F.min("score")).alias("__best_score"),
        F.count(F.lit(1)).alias("group_size"),
        # representative = the group's rank-1 row; __rank is unique within
        # the group so min_by is deterministic (unlike first()).
        *[F.min_by(F.col(c), F.col("__rank")).alias(c) for c in others],
    )
    n2 = F.col("group_size") * F.col("group_size")
    formulas = {
        # "" reproduces the reference's hardcoded One() reduce
        # (data/aggregator.go:155-180)
        "": F.col("__sum_score") if hib else F.col("__sum_score") / n2,
        "sum": F.col("__sum_score"),
        "mean": F.col("__sum_score") / F.col("group_size"),
        "best": F.col("__best_score"),
        "sum_over_n2": F.col("__sum_score") / n2,
    }
    group_score = formulas.get(config.group_score_func, formulas[""])
    reduced = agg.withColumn("group_score", group_score).drop(
        "__sum_score", "__best_score"
    )
    n = config.result_limit or config.limit
    return topk(reduced, "group_score", n, hib, tie_cols=[group_col])


def refine(
    candidates: DataFrame,
    query_vector: Sequence[float],
    config: SearchConfig,
    context_vectors: Sequence[Sequence[float]] = (),
    prioritize_context: bool = False,
    vector_col: str = "feature",
    key_cols: Sequence[str] = (),
    group_col: str = "group_label",
) -> DataFrame:
    """The single-query refine tail of AggregatedSearch + Aggregator (K6,
    K8-K13) over already-filtered candidates: score -> context re-score ->
    dedup keep-best on key -> grouped reduce (iff group_limit>0) -> final
    top-k of ``result_limit or limit``.
    """
    builder, hib = config.resolve()
    scored = candidates.withColumn(
        "score", builder(F.col(vector_col), list(query_vector))
    )
    scored = context_rescore(scored, context_vectors, config, vector_col, prioritize_context)
    if key_cols:
        scored = dedup_keep_best(scored, list(key_cols), "score", hib)
    if config.group_limit > 0:
        return group_reduce(scored, config, group_col=group_col, id_cols=list(key_cols))
    n = config.result_limit or config.limit
    return topk(scored, "score", n, hib, tie_cols=list(key_cols))


def aggregated_search(
    corpus: DataFrame,
    query_vector: Sequence[float],
    config: SearchConfig | None = None,
    context_vectors: Sequence[Sequence[float]] = (),
    prioritize_context: bool = False,
    vector_col: str = "feature",
    key_cols: Sequence[str] = (),
    group_col: str = "group_label",
) -> DataFrame:
    """Full single-query pipeline over a corpus scan: filter_candidates
    then refine.
    """
    config = config or SearchConfig()
    return refine(
        filter_candidates(corpus, config, group_col=group_col), query_vector,
        config, context_vectors, prioritize_context, vector_col, key_cols,
        group_col,
    )
