"""Facets / stats / grouping (SURVEY §2.5, §2.6).

Maps Solr's JSON Facet API + StatsComponent + grouping/collapse onto
groupBy / window operators:

- field facet        -> groupBy(field).count() + top-k buckets
                        (FacetFieldProcessorByHashDV.java — hash agg;
                        Catalyst partial+final HashAggregate = the
                        distributed two-phase refinement for free)
- range facet        -> bucketed groupBy (RangeFacetProcessor.java)
- pivot facet        -> multi-level groupBy (PivotFacetProcessor.java)
- stats component    -> agg() with min/max/sum/count/mean/stddev
                        (StatsValuesFactory.java:106-165); stddev via
                        exact integer sums so it is cross-engine
                        deterministic
- grouping/collapse  -> Window.partitionBy(group).orderBy(sort) +
                        row_number() <= k (grouping module /
                        CollapsingQParserPlugin.java)
- cardinality        -> approx_count_distinct (HLL, like
                        solr/core/.../util/hll/HLL.java)
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def field_facet(df: DataFrame, field: str, limit: int = 10,
                sort_by_count: bool = True) -> DataFrame:
    """Per-value counts, top `limit` buckets, Solr default sort
    (count desc, value asc)."""
    counts = df.groupBy(field).agg(F.count(F.lit(1)).alias("cnt"))
    order = [F.desc("cnt"), F.asc(field)] if sort_by_count else [F.asc(field)]
    return counts.orderBy(*order).limit(limit)


def range_facet(df: DataFrame, field: str, start: float, end: float,
                gap: float) -> DataFrame:
    """Numeric range buckets [start+i*gap, start+(i+1)*gap)."""
    bucket = F.floor((F.col(field) - F.lit(start)) / F.lit(gap)).cast("long")
    return (
        df.where((F.col(field) >= start) & (F.col(field) < end))
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def pivot_facet(df: DataFrame, fields: list[str]) -> DataFrame:
    """Multi-level pivot: counts for every combination of the fields
    (hierarchical drill-down flattened)."""
    return df.groupBy(*fields).agg(F.count(F.lit(1)).alias("cnt"))


def stats_component(df: DataFrame, field_cents: Column, n_col: str = "n") -> DataFrame:
    """StatsComponent metrics over an *integer* column (cents /
    counts): min, max, sum, count, mean, sumsq, stddev.

    mean/stddev are derived from exact integer sums with a fixed
    double-precision formula — deterministic across engines and
    partitionings (no float accumulation order dependence):
    stddev = sqrt((n*sumsq - sum^2) / (n*(n-1))).
    """
    agg = df.agg(
        F.count(F.lit(1)).alias(n_col),
        F.min(field_cents).alias("min_v"),
        F.max(field_cents).alias("max_v"),
        F.sum(field_cents).alias("sum_v"),
        F.sum(field_cents * field_cents).alias("sumsq_v"),
    )
    n = F.col(n_col).cast("double")
    s = F.col("sum_v").cast("double")
    ss = F.col("sumsq_v").cast("double")
    return agg.select(
        n_col, "min_v", "max_v", "sum_v", "sumsq_v",
        (s / n).alias("mean_v"),
        F.sqrt((n * ss - s * s) / (n * (n - F.lit(1.0)))).alias("stddev_v"),
    )


def cardinality(df: DataFrame, field: str, rsd: float = 0.023) -> DataFrame:
    """HLL cardinality (StatsComponent 'cardinality' / HLLAgg)."""
    return df.agg(F.approx_count_distinct(field, rsd).alias("cardinality"))


# --- deterministic HyperLogLog (solr/core/.../util/hll/HLL.java) -----------
#
# A fully-specified dense-register HLL so the SAME estimate is computable
# in any SQL engine (the driver's DuckDB oracle runs the identical
# algorithm): hash = md5 of the value's decimal string, register index =
# first 32 hash bits mod m, rank = 1 + leading-zero-count of the next
# 32 bits (capped 33), registers = max rank per index, estimator =
# alpha_m * m^2 / sum(2^-M_j) with the Flajolet small-range linear
# counting correction. The 2^-M_j sum is kept EXACT by scaling to
# integers 2^(33-M_j) — addition order cannot perturb it.

HLL_LOG2M = 10


def hll_rank_case(w_expr: str) -> str:
    """1 + clz32(w) as a CASE chain — valid in both Spark SQL and
    DuckDB, no float log in sight."""
    branches = " ".join(
        f"WHEN {w_expr} >= {1 << (31 - i)} THEN {i + 1}"
        for i in range(32))
    return f"(CASE {branches} ELSE 33 END)"


def hll_weight_case(m_expr: str) -> str:
    """2^(33 - M) as exact BIGINT literals (M in 1..33)."""
    branches = " ".join(
        f"WHEN {m_expr} = {r} THEN {1 << (33 - r)}" for r in range(1, 34))
    return f"(CASE {branches} END)"


def hll_estimate_expr(s_expr: str, zeros_expr: str,
                      log2m: int = HLL_LOG2M) -> str:
    """The estimator over the exact scaled register sum ``s_expr``
    (absent registers contribute 2^33 each) and the empty-register
    count — identical text evaluates identically in Spark and DuckDB
    (single division; ln only in the linear-counting branch)."""
    m = 1 << log2m
    alpha = f"(0.7213 / (1.0 + 1.079 / {m}.0))"
    raw = f"({alpha} * {m}.0 * {m}.0 * {1 << 33}.0 / ({s_expr}))"
    return (f"(CASE WHEN {raw} <= {2.5 * m} AND ({zeros_expr}) > 0 "
            f"THEN {m}.0 * ln({m}.0 / ({zeros_expr})) ELSE {raw} END)")


def hll_cardinality(df: DataFrame, field: str,
                    log2m: int = HLL_LOG2M) -> DataFrame:
    """Deterministic HLL estimate of ``count(distinct field)`` — one
    row (est DOUBLE). One shuffle on the register index (m keys);
    duplicate values hash to identical registers, so the pre-shuffle
    partial max-combine collapses the stream to <= m rows per task
    regardless of input size."""
    m = 1 << log2m
    h = df.select(F.md5(F.col(field).cast("string")).alias("hx"))
    hw = h.select(
        (F.conv(F.substring("hx", 1, 8), 16, 10).cast("long") % m)
        .alias("idx"),
        F.conv(F.substring("hx", 9, 8), 16, 10).cast("long").alias("w"))
    regs = (hw.withColumn("rank", F.expr(hll_rank_case("w")))
            .groupBy("idx").agg(F.max("rank").alias("mreg")))
    agg = regs.agg(
        F.sum(F.expr(hll_weight_case("mreg"))).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"))
    s_total = (f"(s_present + ({m} - n_present) * {1 << 33})")
    zeros = f"({m} - n_present)"
    return agg.select(
        F.expr(hll_estimate_expr(s_total, zeros, log2m)).alias("est"))


def group_top_k(df: DataFrame, group: str, order: list[Column], k: int = 1,
                rank_col: str = "grank") -> DataFrame:
    """Grouping / CollapsingQParserPlugin: top-k rows per group.

    Two-pass grouping collectors (FirstPass/SecondPassGroupingCollector)
    become one window aggregation; the shuffle partitions by group key
    so each group is ranked locally (no global sort)."""
    w = Window.partitionBy(group).orderBy(*order)
    return df.withColumn(rank_col, F.row_number().over(w)).where(
        F.col(rank_col) <= k)


_FACET_METRIC = {"sum": F.sum, "avg": F.avg, "min": F.min,
                 "max": F.max, "unique": F.countDistinct}


def _facet_metrics(metrics: dict) -> list[Column]:
    """Compile {"name": "fn(field)"} metric specs (the JSON Facet
    API's aggregation strings — FacetRequest.java's AggValueSource
    parse) to Spark aggregate columns. percentile(field,p) is the
    EXACT linear-interpolation percentile (PercentileAgg's contract;
    the reference approximates with t-digest at scale — the exact agg
    is the cross-engine-deterministic choice here)."""
    out = []
    for name, expr in metrics.items():
        pm = re.fullmatch(r"percentile\(([\w.]+)\s*,\s*([\d.]+)\)",
                          expr.strip())
        if pm:
            out.append(F.expr(
                f"percentile({pm.group(1)}, {float(pm.group(2))})")
                .alias(name))
            continue
        m = re.fullmatch(r"(\w+)\(([\w.]+)\)", expr.strip())
        if not m or m.group(1) not in _FACET_METRIC:
            raise ValueError(f"unsupported facet metric {expr!r}")
        out.append(_FACET_METRIC[m.group(1)](F.col(m.group(2)))
                   .alias(name))
    return out


def json_facet(df: DataFrame, spec: dict) -> DataFrame:
    """JSON Facet API subset (solr/core/.../search/facet/
    FacetRequest.java + FacetFieldProcessor.java): ONE root facet
    spec, arbitrarily deep single-child nesting, flattened to one row
    per deepest bucket.

    spec = {"type": "terms", "field": f, "limit": N,
            "sort": "count"|"index",          # bucket order
            "metrics": {"name": "sum(col)" | "avg(col)" | "min(col)"
                         | "max(col)" | "unique(col)"},
            "facet": {<child name>: <child spec>}}   # optional, one
    or {"type": "range", "field": f, "start": a, "end": b, "gap": g,
        ... same metrics/facet ...}

    Bucket semantics follow the reference: terms buckets rank by
    (count desc, value asc) ("count") or (value asc) ("index") and
    keep the top ``limit`` PER PARENT BUCKET; range buckets cover
    [start, end) in gap steps. Each level is one hash aggregate over
    the ancestor-filtered frame + one ranking window partitioned by
    the ancestor keys — the distributed two-phase bucket refinement,
    no collects.

    Returns one row per deepest bucket: ancestor bucket columns,
    per-level counts (cnt_0, cnt_1, ...), and each level's metrics
    under their given names.
    """
    levels = []
    node, name = spec, None
    while True:
        levels.append((name, node))
        sub = node.get("facet") or {}
        if not sub:
            break
        if len(sub) != 1:
            raise ValueError("json_facet subset: one child facet per "
                             "level")
        name, node = next(iter(sub.items()))

    cur = None
    keys: list[str] = []
    frame = df  # accumulates bucket columns + restrictions level by level
    for depth, (_, nd) in enumerate(levels):
        ftype = nd.get("type", "terms")
        if ftype == "terms":
            key = nd["field"]
        elif ftype == "range":
            key = f"{nd['field']}_bucket"
            lo, hi, gap = (float(nd["start"]), float(nd["end"]),
                           float(nd["gap"]))
            frame = (frame
                     .where((F.col(nd["field"]) >= lo)
                            & (F.col(nd["field"]) < hi))
                     .withColumn(key,
                                 (F.floor((F.col(nd["field"]) - F.lit(lo))
                                          / F.lit(gap)) * F.lit(gap)
                                  + F.lit(lo))))
        elif ftype == "query":
            # QueryFacetProcessor: ONE bucket of docs matching the
            # predicate (a Column expression string over the frame);
            # children nest under the filtered frame
            key = f"_q{depth}"
            frame = (frame.where(F.expr(nd["q"]))
                     .withColumn(key, F.lit(nd["q"])))
        else:
            raise ValueError(f"unsupported facet type {ftype!r}")
        aggs = ([F.count(F.lit(1)).alias(f"cnt_{depth}")]
                + _facet_metrics(nd.get("metrics") or {}))
        g = frame.groupBy(*keys, key).agg(*aggs)
        limit = int(nd.get("limit", 10))
        order = ([F.desc(f"cnt_{depth}"), F.asc(key)]
                 if nd.get("sort", "count") == "count"
                 else [F.asc(key)])
        if keys:
            w = Window.partitionBy(*keys).orderBy(*order)
            lvl = (g.withColumn("_rn", F.row_number().over(w))
                   .where(F.col("_rn") <= limit).drop("_rn"))
        else:
            # root level: top-k via orderBy().limit() (Catalyst
            # TakeOrderedAndProject — per-partition top-k + k-row
            # merge), never an unpartitioned ranking window over a
            # possibly high-cardinality bucket table
            lvl = g.orderBy(*order).limit(limit)
        cur = lvl if cur is None else cur.join(lvl, keys)
        keys.append(key)
        # restrict the frame to the surviving buckets for the child
        frame = frame.join(F.broadcast(lvl.select(*keys).distinct()),
                           keys)
    return cur


def distinct_values(df: DataFrame, fields: list[str]) -> DataFrame:
    """DistinctValuesCollector / SELECT DISTINCT."""
    return df.select(*fields).distinct()


def group_facet(df: DataFrame, group_col: str, facet_col: str,
                k: int = 10) -> DataFrame:
    """Grouped faceting (group.facet=true) — GroupFacetCollector
    (lucene/grouping/src/java/org/apache/lucene/search/grouping/
    GroupFacetCollector.java; Solr wiring solr/core/.../request/
    SimpleFacets.java): facet counts where each GROUP contributes at
    most once per facet value, instead of once per document.

    ``df``: matching docs already joined to (group_col, facet_col).
    Returns (value, cnt, rank) top-k by (count desc, value asc).

    Scale: count(DISTINCT group) compiles to a two-level hash
    aggregate (expand + partial + final) — one shuffle keyed on the
    facet value; no per-group window, no collect."""
    agg = (df.groupBy(F.col(facet_col).alias("value"))
             .agg(F.countDistinct(group_col).cast("long").alias("cnt")))
    order = [F.desc("cnt"), F.asc("value")]
    w = Window.orderBy(*order)
    return (agg.orderBy(*order).limit(k)
            .withColumn("rank", F.row_number().over(w).cast("long")))


def _parse_interval(spec: str):
    """Solr interval syntax (solr/core/.../request/IntervalFacets.java
    parsing: FacetInterval): '[' / '(' start ',' end ']' / ')' with
    '*' for unbounded ends. Returns (lo, lo_incl, hi, hi_incl)."""
    s = spec.strip()
    lo_incl, hi_incl = s[0] == "[", s[-1] == "]"
    body = s[1:-1]
    lo_s, hi_s = [p.strip() for p in body.split(",", 1)]
    lo = None if lo_s == "*" else float(lo_s)
    hi = None if hi_s == "*" else float(hi_s)
    return lo, lo_incl, hi, hi_incl


def interval_facet(df: DataFrame, field: str,
                   intervals: list[str]) -> DataFrame:
    """Interval faceting (facet.interval — solr/core/src/java/org/
    apache/solr/request/IntervalFacets.java): arbitrary, possibly
    OVERLAPPING intervals each count the matching docs independently —
    unlike range facets' disjoint buckets. Returns one row per
    interval spec (ival, cnt), in spec order via rank.

    Scale: ONE scan; every interval is a conditional-sum aggregate
    expression folded in the same partial+final hash agg (the
    reference's single DocValues pass over accumulators)."""
    aggs = []
    for i, spec in enumerate(intervals):
        lo, lo_incl, hi, hi_incl = _parse_interval(spec)
        cond = F.lit(True)
        c = F.col(field).cast("double")
        if lo is not None:
            cond = cond & (c >= lo if lo_incl else c > lo)
        if hi is not None:
            cond = cond & (c <= hi if hi_incl else c < hi)
        # count(when(...)) is 0 on an empty frame; sum() would be null
        aggs.append(F.count(F.when(cond, True))
                    .cast("long").alias(f"_i{i}"))
    row = df.agg(*aggs)
    pairs = F.array(*[
        F.struct(F.lit(spec).alias("ival"),
                 F.col(f"_i{i}").alias("cnt"),
                 F.lit(i + 1).cast("long").alias("rank"))
        for i, spec in enumerate(intervals)])
    return (row.select(F.explode(pairs).alias("p"))
            .select("p.ival", "p.cnt", "p.rank"))


def drill_sideways(df: DataFrame, base_cond: Column | None,
                   drill: dict[str, object],
                   k_per_dim: int = 10) -> DataFrame:
    """DrillSideways (lucene/facet/src/java/org/apache/lucene/facet/
    DrillSideways.java:68 + DrillDownQuery.java): the query drills
    down on several dimensions; for EACH drilled dimension the facet
    counts are computed with that dimension's own filter REMOVED (all
    other drill-downs + the base query still applied) — so a
    dimension's alternative values don't disappear after drilling
    into it. ``drill``: {column: selected_value}. Returns
    (dim, value, cnt, rank-per-dim) — each dim's top values by
    (count desc, value asc).

    Scale: N scans for N drilled dimensions — one filtered groupBy
    per dimension over the base-filtered frame (its near-miss filter:
    every OTHER drill-down applied), unioned. The reference's
    DrillSidewaysScorer scores base and near-miss docs in one
    traversal; a single conditional aggregation would be the
    one-scan equivalent here."""
    base = df.where(base_cond) if base_cond is not None else df
    dims = list(drill.items())
    conds = {c: (F.col(c) == F.lit(v)) for c, v in dims}
    parts = []
    for c, _ in dims:
        others = [conds[o] for o, _ in dims if o != c]
        keep = others[0] if others else F.lit(True)
        for x in others[1:]:
            keep = keep & x
        parts.append(
            base.where(keep)
            .groupBy(F.lit(c).alias("dim"), F.col(c).alias("value"))
            .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    w = Window.partitionBy("dim").orderBy(F.desc("cnt"), F.asc("value"))
    return (out.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= k_per_dim))


def path_facet(df: DataFrame, path_col: str, sep: str = "/",
               k_per_level: int = 10) -> DataFrame:
    """Taxonomy (hierarchical) facets — lucene/facet/src/java/org/
    apache/lucene/facet/taxonomy/ (FacetsConfig hierarchical dims +
    TaxonomyFacetCounts): a document labeled with path "a/b/c" counts
    toward EVERY ancestor category ("a", "a/b", "a/b/c" — the
    taxonomy's ordinal-ancestor rollup). Returns (level, path, cnt,
    rank-per-level), each level's top categories by (count desc,
    path asc).

    Scale: one explode of the ancestor-prefix array (depth-bounded)
    + one hash aggregate — the dimension tree never materializes
    driver-side; the reference's int[] ordinal rollup becomes a
    grouped count over prefixes."""
    parts = F.split(F.col(path_col), sep)
    prefixes = F.transform(
        F.sequence(F.lit(1), F.size(parts)),
        lambda n: F.struct(
            n.cast("long").alias("level"),
            F.array_join(F.slice(parts, 1, n), sep).alias("path")))
    ex = df.select(F.explode(prefixes).alias("p")).select(
        "p.level", "p.path")
    agg = (ex.groupBy("level", "path")
           .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    w = Window.partitionBy("level").orderBy(F.desc("cnt"), F.asc("path"))
    return (agg.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= k_per_level))


def sampled_facet(df: DataFrame, field: str, key_col: str,
                  rate: float, seed: str = "42",
                  k: int = 10) -> DataFrame:
    """RandomSamplingFacetsCollector (lucene/facet/src/java/org/
    apache/lucene/facet/RandomSamplingFacetsCollector.java): facet
    counts over a document SAMPLE, corrected by the inverse sampling
    rate (amortizeFacetCounts' 1/samplingRate scale-up). The sample is
    the engine's deterministic md5(seed:key) threshold — fixed-width
    hex-string comparison against the rate rendered on the 2^32 grid
    (dataset_split's rule), so the same docs sample on every engine
    and at any parallelism (the reference uses XORShift; documented
    deviation for reproducibility). Returns (value, est, sampled,
    rank) — est = floor(sampled / rate).

    Scale: the threshold is a pure map predicate BEFORE the hash
    aggregate — at 100 TB the facet agg touches rate*N rows, which is
    the whole point of the sampling collector."""
    cut = format(min(int(rate * (1 << 32)), (1 << 32) - 1), "08x")
    h8 = F.substring(
        F.md5(F.concat(F.lit(seed), F.lit(":"),
                       F.col(key_col).cast("string"))), 1, 8)
    samp = df.where(h8 < cut)
    agg = (samp.groupBy(F.col(field).alias("value"))
           .agg(F.count(F.lit(1)).cast("long").alias("sampled")))
    agg = agg.withColumn(
        "est", F.floor(F.col("sampled").cast("double")
                       / F.lit(float(rate))).cast("long"))
    order = [F.desc("sampled"), F.asc("value")]
    w = Window.orderBy(*order)
    return (agg.orderBy(*order).limit(k)
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .select("value", "est", "sampled", "rank"))
