"""Graph operators over edge-list DataFrames.

Connected components (pointer doubling) lives in :mod:`.dedup` where
near-dup pair grouping needs it; this module adds weighted PageRank —
the corpus-graph centrality primitive (domain authority for crawl
prioritization, citation weighting).

Scale shape: the edge list stays distributed and partitions by key;
the rank vector is node-count-sized and BROADCASTS into each
iteration's join, so one iteration costs one keyed shuffle of the
edge contributions. Fixed iteration count and per-iteration rounding
make the result engine-deterministic (oracle replays the identical
chain in SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .persist import hold


def _round_half_up(x: float, nd: int) -> float:
    """Decimal-exact HALF_UP rounding of a double — bit-identical to
    Spark/DuckDB ``round(double, nd)`` (both round the exact binary
    value of the double half-up in decimal). Python's builtin round()
    is half-to-even and the float-scaling trick mis-rounds near ULP
    boundaries, so this goes through the decimal module."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(x).quantize(Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP)
    )


def _pagerank_local(
    edge_rows, node_vals, iters: int, damping: float
) -> list[tuple]:
    """Driver-local replay of the distributed iteration — identical
    arithmetic: integer-exact out-weights, ``w / out_w`` double
    division, per-iteration round-12 (the engine sync point that
    already absorbs summation-order noise between Spark and DuckDB),
    final round-8, HALF_UP throughout."""
    from collections import defaultdict

    n = len(node_vals)
    teleport = (1.0 - damping) / n
    out_w = defaultdict(int)
    for src, dst, w in edge_rows:
        out_w[src] += w
    fracs = sorted(
        (src, dst, w / out_w[src]) for src, dst, w in edge_rows
    )
    rank = {v: 1.0 / n for v in node_vals}
    for _ in range(iters):
        acc = defaultdict(float)
        for src, dst, f in fracs:
            if src in rank:
                acc[dst] += f * rank[src]
        contrib = {d: _round_half_up(s, 12) for d, s in acc.items()}
        rank = {
            v: _round_half_up(
                teleport + damping * contrib.get(v, 0.0), 12
            )
            for v in node_vals
        }
    return [(v, _round_half_up(rank[v], 8)) for v in node_vals]


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    local_edge_cap: int = 100_000,
) -> DataFrame:
    """Weighted PageRank over ``edges`` (src, dst, w) restricted to the
    ``nodes`` frame (one column ``node``).

    Per iteration: rank mass flows along out-edge weight fractions
    (``w / out_weight``), damped; dangling nodes keep only the
    teleport term (no redistribution — deterministic and identical in
    the SQL oracle). Contributions and ranks round to 12 decimals per
    iteration so IEEE summation-order differences between engines
    cannot accumulate; the returned rank is rounded to 8.

    DIMENSION-BOUNDED fast path: when the aggregated edge list holds
    at most ``local_edge_cap`` rows (it is distinct-(src,dst)-sized —
    n² at worst, NOT corpus-sized; the corpus-scale work is the edge
    AGGREGATION upstream, which always runs distributed), the
    iteration itself runs on the driver with bit-identical arithmetic
    (integer-exact out-weights, same division, same HALF_UP
    round-12/round-8 sync points) — the same locality rule as the PCA
    power iteration and the BPE merge loop: iterate where the state
    lives, and the state here is node-count-sized. Spark cost drops
    from iters x (join + agg) stages to ONE edge aggregation + a
    collect. A 100M-node web graph exceeds the cap and takes the
    distributed path below, whose per-iteration shape is one keyed
    shuffle of edge contributions against a broadcast rank vector.
    """
    from pyspark.sql import Window

    # the "integer-exact out-weights" parity argument only holds when
    # w is integral: with double weights the driver's sequential
    # accumulation order could diverge from the distributed window-sum
    # order BEFORE the round-12 sync point, so double-weighted graphs
    # always take the distributed path (whose arithmetic is the
    # oracle-replayed reference)
    integral_w = edges.schema["w"].dataType.simpleString() in (
        "tinyint",
        "smallint",
        "int",
        "bigint",
    )
    take_local = False
    if integral_w:
        # size probe and collection in ONE action: if limit(cap+1)
        # returns <= cap rows, it necessarily returned ALL of them. The
        # NODE table is probed the same way — a small edge list over a
        # huge mostly-isolated node set must still take the distributed
        # path, since the local rank dict is node-count-sized driver
        # state.
        node_probe = nodes.select("node").limit(local_edge_cap + 1).collect()
        probe = (
            edges.select("src", "dst", "w").limit(local_edge_cap + 1).collect()
        )
        take_local = (
            len(probe) <= local_edge_cap
            and len(node_probe) <= local_edge_cap
        )
    if take_local:
        node_vals = [r["node"] for r in node_probe]
        edge_rows = [(r["src"], r["dst"], r["w"]) for r in probe]
        out = _pagerank_local(edge_rows, node_vals, iters, damping)
        spark = edges.sparkSession
        node_t = nodes.schema["node"].dataType.simpleString()
        # Arrow local frame: the node-count-sized rank
        # table ships as driver-built Arrow batches (LocalTableScan) —
        # zero Python-worker tasks, vs ~32 pickled-slice tasks
        from .localdata import local_frame

        return local_frame(spark, out, f"node {node_t}, rank double")

    n = nodes.count()
    teleport = (1.0 - damping) / n

    # out-weight normalization as a window over src — no edges-vs-
    # aggregate self-join (that plan sort-merge-joins the edge list
    # against its own groupBy); one Exchange on src instead
    outw = F.sum("w").over(Window.partitionBy("src"))
    # every iteration reads the edge fractions; the result stays lazy
    # (so `.explain()` shows the real iteration plan), and one edge
    # frame per session stays held
    e = hold(
        edges.select("src", "dst", (F.col("w") / outw).alias("frac")),
        "pagerank_edges",
        keep=1,
    )
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for _ in range(iters):
        contrib = (
            e.join(F.broadcast(ranks), e.src == ranks.node)
            .groupBy("dst")
            .agg(F.round(F.sum(F.col("frac") * F.col("rank")), 12).alias("c"))
        )
        ranks = (
            nodes.join(F.broadcast(contrib), nodes.node == contrib.dst, "left")
            .select(
                "node",
                F.round(
                    F.lit(teleport) + F.lit(damping) * F.coalesce("c", F.lit(0.0)),
                    12,
                ).alias("rank"),
            )
        )
    return ranks.select("node", F.round("rank", 8).alias("rank"))
