"""Goal-driven planner: state space, action enumeration, BFS search.

A planner state is the tuple of available column-name sets (one
frozenset per live frame, in creation order) plus the task-invocation
history (reference: frame_tasks/solve.py:13-15). An action is one
satisfiable task call — ``(task, bindings, resolved returns)``
(reference: frame_tasks/solve.py:17-27). Search is plain breadth-first
over this space (implemented directly on ``collections.deque`` — the
reference delegates to the ``simpleai`` package, frame_tasks/
solve.py:111-118), so the first plan reaching the goal has the fewest
task invocations.

Pruning, mirroring the reference's (frame_tasks/solve.py:30-59):

* actions whose every output column-set already exists in the state are
  skipped (prevents search loops);
* a *generic* task (any regex requirement) may be used at most
  :data:`MAX_REPEAT_GENERIC_TASK` times per path — regex requirements
  branch on every column, so this caps the fan-out;
* duplicate ``(task, bindings, returns)`` actions are emitted once;
* visited-state memoization. We memoize on ``(Vars, generic-task usage
  counts)`` rather than the full task history: two paths that produced
  the same frames and consumed the same generic-task budget have
  identical futures, so this prunes strictly more than the reference's
  full-history memo while preserving BFS shortest-path optimality.

The planner never touches data — scheming happens on ``df.columns``
only, and on Spark those are free (lazy DataFrames carry their schema).
"""

from __future__ import annotations

from collections import Counter, deque
from itertools import groupby
from typing import (
    Dict,
    FrozenSet,
    Iterable,
    List,
    NamedTuple,
    Optional,
    Sequence,
    Tuple,
)

from .task import BadTask, CallReqsMap, RetArg, TaskRegistry, default_registry
from .unify import Binding, TaskCaller, callmap_view

#: cap on uses of any single generic (regex-requiring) task per plan
#: (None = unlimited). Matches the reference's default
#: (frame_tasks/solve.py:11) — and like the reference it silently makes
#: goals needing N>cap uses of one generic task unsatisfiable. Read at
#: call time, so setting this module attribute (the reference's way)
#: changes every later search.
MAX_REPEAT_GENERIC_TASK: Optional[int] = 1

#: hard bound on plan length; BFS explores breadth-first so this only
#: matters for unsatisfiable goals
MAX_PLAN_DEPTH = 12


class State(NamedTuple):
    Vars: Tuple[FrozenSet[str], ...]
    Tasks: Tuple[str, ...]


class Action(NamedTuple):
    Task: str
    Bindings: Tuple[Binding, ...]
    Returns: Tuple[RetArg, ...]

    @property
    def CallMap(self) -> CallReqsMap:
        """Reference-shaped view: {(frame, column): (arg, Variable)}."""
        return callmap_view(self.Bindings)

    def returns_int(self) -> List[Tuple[int, str]]:
        return [(-1, name) if pos is None else (pos, name) for pos, name in self.Returns]

    def callmap_flat(self) -> List[Tuple[int, str, str, object]]:
        return [(b.frame, b.column, b.arg, b.var) for b in self.Bindings]


def _have_vars(state: State) -> Dict[int, List[str]]:
    return {i: sorted(vs) for i, vs in enumerate(state.Vars)}


def _returns_groups(returns: Sequence[RetArg]) -> List[FrozenSet[str]]:
    """Group declared outputs into per-frame column sets: consecutive
    entries sharing a return position form one output frame."""
    return [
        frozenset(name for _, name in grp)
        for _, grp in groupby(returns, key=lambda r: r[0])
    ]


def actions_given_state(
    state: State,
    registry: Optional[TaskRegistry] = None,
) -> List[Action]:
    registry = default_registry if registry is None else registry
    state_vars = set(state.Vars)
    have = _have_vars(state)

    cap = MAX_REPEAT_GENERIC_TASK
    exhausted = set()
    if cap is not None:
        counts = Counter(t for t in state.Tasks if registry[t].is_generic())
        exhausted = {t for t, n in counts.items() if n >= cap}

    found: List[Action] = []
    seen = set()
    for name, task in registry:
        if name in exhausted:
            continue
        try:
            caller = TaskCaller(have, task)
        except BadTask:
            continue
        for bindings, returns in caller.satisfy():
            groups = _returns_groups(returns)
            if all(g in state_vars for g in groups):
                continue  # no new columns — pointless action
            action = Action(
                Task=name,
                Bindings=tuple(bindings),
                Returns=tuple(returns),
            )
            key = (name, action.Bindings, action.Returns)
            if key in seen:
                continue
            seen.add(key)
            found.append(action)
    return found


def apply_action(state: State, action: Action) -> State:
    new_vars = tuple(_returns_groups(action.Returns))
    return State(
        Vars=state.Vars + new_vars,
        Tasks=state.Tasks + (action.Task,),
    )


def apply_many_actions(state: State, actions: Iterable[Action]) -> State:
    for action in actions:
        state = apply_action(state, action)
    return state


class TaskProblem:
    """BFS search problem over planner states."""

    def __init__(
        self,
        goal: List[List[str]],
        initial_vars: List[List[str]],
        registry: Optional[TaskRegistry] = None,
    ):
        self.goal = [list(g) for g in goal]
        self.registry = default_registry if registry is None else registry
        self.initial_state = State(
            Vars=tuple(frozenset(v) for v in initial_vars), Tasks=()
        )

    def actions(self, state: State) -> List[Action]:
        return actions_given_state(state, self.registry)

    def result(self, state: State, action: Action) -> State:
        return apply_action(state, action)

    def is_goal(self, state: State) -> bool:
        return all(
            any(all(c in frame for c in goal_cols) for frame in state.Vars)
            for goal_cols in self.goal
        )

    def _memo_key(self, state: State):
        generic_used = tuple(
            sorted(
                Counter(
                    t for t in state.Tasks if self.registry[t].is_generic()
                ).items()
            )
        )
        return (state.Vars, generic_used)

    def solve(self, max_depth: int = MAX_PLAN_DEPTH) -> Optional[List[Action]]:
        """Shortest action sequence reaching the goal, or None."""
        start = self.initial_state
        if self.is_goal(start):
            return []
        queue: deque = deque([(start, [])])
        visited = {self._memo_key(start)}
        while queue:
            state, path = queue.popleft()
            if len(path) >= max_depth:
                continue
            for action in self.actions(state):
                nxt = self.result(state, action)
                key = self._memo_key(nxt)
                if key in visited:
                    continue
                visited.add(key)
                new_path = path + [action]
                if self.is_goal(nxt):
                    return new_path
                queue.append((nxt, new_path))
        return None


TaskExec = List[Tuple[Optional[Action], State]]


def find_path(
    source: List[List[str]],
    dest: List[List[str]],
    registry: Optional[TaskRegistry] = None,
    max_depth: int = MAX_PLAN_DEPTH,
) -> TaskExec:
    """Reference-shaped result: ``[(None, s0), (a1, s1), ...]`` — an
    empty list signals "no plan"."""
    problem = TaskProblem(
        goal=dest,
        initial_vars=source,
        registry=registry,
    )
    actions = problem.solve(max_depth=max_depth)
    if actions is None:
        return []
    out: TaskExec = [(None, problem.initial_state)]
    state = problem.initial_state
    for action in actions:
        state = apply_action(state, action)
        out.append((action, state))
    return out


def perform_actions(
    sources: List,
    actions: Iterable[Action],
    registry: Optional[TaskRegistry] = None,
    return_latest_first: bool = True,
) -> List:
    """Execute a plan: each action's task runs over the live frame list
    and its outputs are appended (reference: frame_tasks/solve.py:121-135).
    Frames stay lazy on Spark — nothing materializes here."""
    from ..runtime import call_task  # late import: keep planner Spark-free

    registry = default_registry if registry is None else registry
    current: List = list(sources)
    for action in actions:
        task = registry[action.Task]
        outputs = call_task(task, action.Bindings, list(action.Returns), current)
        current.extend(outputs)
    if return_latest_first:
        return list(reversed(current))
    return current


def Executor(
    sources: List,
    build: List[List[str]],
    registry: Optional[TaskRegistry] = None,
    show_progress: bool = False,  # kept for reference API compatibility
) -> List:
    """Plan and execute: derive source schemas (free on lazy Spark
    DataFrames), BFS-plan to the goal column sets, run the plan, return
    every live frame (sources + all outputs, oldest first)."""
    source_cols = [[c for c in df.columns if isinstance(c, str)] for df in sources]
    path = find_path(source_cols, build, registry=registry)
    if not path:
        raise RuntimeError("Path not found")
    actions = [a for a, _ in path if a is not None]
    return perform_actions(
        sources, actions, registry=registry, return_latest_first=False
    )


def solve_goal(
    sources: List,
    goal: List[str],
    registry: Optional[TaskRegistry] = None,
):
    """Convenience: run :func:`Executor` for a single goal column set and
    return the newest frame containing every goal column."""
    frames = Executor(sources, [list(goal)], registry=registry)
    for frame in reversed(frames):
        if all(c in frame.columns for c in goal):
            return frame
    raise RuntimeError("goal frame not produced")
