"""Workload definitions and the seeded choices each run makes.

Every workload is a closed loop with one client in one process. The
seed decides the query order of each pass and the order in which the
explore sessions are walked; the inputs themselves are fixed by the
build step's data seed, so the oracle results stay valid. Why each
workload exists is stated once, in ``BENCHMARK.json``.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

#: measured passes a run makes even when ``--seconds`` is already spent
MIN_PASSES = 3

#: requests made for each explore step after ``/explore``: pages 0, 1
#: and 0 of the newest frame, then its CSV download
STEP_REQUESTS = ("view0", "view1", "view0", "csv")


@dataclass(frozen=True)
class Batch:
    queries: tuple[str, ...]


@dataclass(frozen=True)
class Explore:
    #: each session extends an empty plan one action at a time; a step
    #: follows the first ``/explore`` link for the named task
    sessions: tuple[tuple[str, ...], ...]


WORKLOADS: dict[str, Batch | Explore] = {
    "batch": Batch(
        queries=(
            # construction runs eager jobs and driver loops
            "graph_pagerank",
            "text_bpe_train256",
            # construction returns one lazy plan; planner_pack's is composed
            # by the planner, so the plans and runtime layers run too
            "q3_shipping_priority",
            "j3_left_join",
            "ev_sessionize",
            "planner_pack",
        ),
    ),
    "explore_session": Explore(
        sessions=(
            ("get_docs", "score_quality"),
            ("get_docs", "tokenize"),
        ),
    ),
}


def query_order(queries: tuple[str, ...], seed: int, pass_no: int) -> list[str]:
    """The order of one pass; the same (seed, pass) gives the same order."""
    order = list(queries)
    random.Random(f"{seed}/{pass_no}").shuffle(order)
    return order


def session_order(
    sessions: tuple[tuple[str, ...], ...], seed: int
) -> list[tuple[str, ...]]:
    """The walk of one run: every session once, in a seeded order."""
    order = list(sessions)
    random.Random(f"{seed}/walk").shuffle(order)
    return order
