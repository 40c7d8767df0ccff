"""Requirement unification and output-name templating.

Given the planner state's available columns (``{frame_idx: [col, ...]}``)
and a task's declared requirements, enumerate every consistent
assignment of requirements to concrete ``(frame, column)`` pairs, then
instantiate the task's output-name templates from the matched capture
groups.

Semantics (established by the reference, re-implemented functionally —
the reference's in-place backtracking and Variable mutation in
frame_tasks/tasks.py:321-370 are replaced by recursion over immutable
binding tuples that carry their declared-requirement index):

* Each requirement binds to a distinct ``(frame, column)``.
* All requirements of one ``arg`` bind within a single frame
  (reference: frame_tasks/tasks.py:336-339).
* Requirements whose name contains a ``{...}`` template ("dependent
  requires") are resolved *after* all plain requirements, against the
  bindings accumulated so far (reference: frame_tasks/tasks.py:303-317).
  A task whose requirements are all dynamic is rejected as
  :class:`~.task.BadTask`.
* ``{arg}`` / ``{arg.i}`` / ``{arg.i.j}`` in an output (or dependent
  requirement) name is replaced by capture group ``j`` (0-based) of the
  pattern of the ``i``-th binding recorded for ``arg``, applied to the
  concrete column that binding matched (reference:
  frame_tasks/tasks.py:372-401). Unsatisfiable templates raise
  :class:`~.task.NotSolvable` and the candidate binding is discarded.
* Binding order — which defines ``{arg.i}`` indexing — is: plain
  requirements in reverse declaration order, then dependent ones in
  reverse declaration order (this mirrors the reference's observable
  dict ordering; e.g. in its ``tokenize_clean`` task ``{x}`` denotes the
  *pattern* requirement even though an exact one is declared first).
* For an ``appends`` task, the planned output column set is augmented
  with every column of the frame bound to the (single) data arg, since
  execution left-joins those columns back (reference planner:
  frame_tasks/tasks.py:411-417; execution: tasks.py:262-269. The
  reference planner reads frame 0's columns here, which disagrees with
  its own execution when several frames exist — we use the bound
  frame's columns so plan and execution always agree).
"""

from __future__ import annotations

import re
from typing import Dict, Iterator, List, NamedTuple, Optional, Sequence, Tuple

from .task import Arg, BadTask, CallReqsMap, NotSolvable, RetArg, Task
from .variable import TEMPLATE_RE, Variable

HaveVars = Dict[int, List[str]]


class Binding(NamedTuple):
    """One resolved requirement: declared requirement ``req_index`` of
    ``arg`` matched concrete column ``column`` of frame ``frame``."""

    frame: int
    column: str
    arg: Arg
    var: Variable  # resolved variable (templates substituted)
    req_index: int  # position within the task's declared ``requires``


def resolve_template(name: str, bindings: Sequence[Binding]) -> str:
    """Instantiate ``{arg.i.j}`` placeholders in ``name`` from capture
    groups of already-matched requirement patterns."""

    def _sub(m: "re.Match[str]") -> str:
        arg = m.group(1)
        var_ind = int(m.group(2)) if m.group(2) is not None else 0
        grp_ind = int(m.group(3)) if m.group(3) is not None else 0

        arg_bindings = [b for b in bindings if b.arg == arg]
        if var_ind >= len(arg_bindings):
            raise NotSolvable(f"template {name!r}: no binding {var_ind} for arg {arg!r}")
        b = arg_bindings[var_ind]
        match = b.var.pattern.match(b.column)
        if match is None:
            raise NotSolvable(f"template {name!r}: {b.var!r} no longer matches {b.column!r}")
        groups = match.groups()
        if grp_ind >= len(groups) or groups[grp_ind] is None:
            raise NotSolvable(f"template {name!r}: {b.var!r} has no capture group {grp_ind}")
        return groups[grp_ind]

    return TEMPLATE_RE.sub(_sub, name)


def _resolution_order(task: Task) -> List[Tuple[int, Arg, Variable]]:
    dep_args = {arg for arg, var in task.requires if var.is_templated}
    if task.requires and dep_args == {arg for arg, _ in task.requires}:
        raise BadTask(f"all requirements for task {task.name!r} are dynamic")
    indexed = [(i, arg, var) for i, (arg, var) in enumerate(task.requires)]
    ordered = sorted(indexed, key=lambda r: r[1] not in dep_args)
    return list(reversed(ordered))


def _enumerate_bindings(
    have_items: List[Tuple[int, List[str]]],
    remaining: List[Tuple[int, Arg, Variable]],
    bound: Tuple[Binding, ...],
) -> Iterator[Tuple[Binding, ...]]:
    if not remaining:
        yield bound
        return

    req_index, arg, var = remaining[0]
    rest = remaining[1:]

    # all requirements of one arg must come from the same frame
    frame_of_arg: Optional[int] = next((b.frame for b in bound if b.arg == arg), None)
    taken = {(b.frame, b.column) for b in bound}

    for frame_idx, cols in have_items:
        if frame_of_arg is not None and frame_idx != frame_of_arg:
            continue
        for col in cols:
            if (frame_idx, col) in taken:
                continue
            if var.is_templated:
                try:
                    resolved = Variable(resolve_template(var.string or "", bound))
                except NotSolvable:
                    continue
            else:
                resolved = var
            if resolved.matches(col) is None:
                continue
            new_bound = bound + (Binding(frame_idx, col, arg, resolved, req_index),)
            yield from _enumerate_bindings(have_items, rest, new_bound)


class TaskCaller:
    """Enumerates every consistent way to call ``for_task`` given the
    available columns, yielding ``(bindings, resolved generates)``."""

    def __init__(self, have: HaveVars, for_task: Task):
        self.have = {i: list(cols) for i, cols in have.items()}
        self.task = for_task
        self._order = _resolution_order(for_task)

    def satisfy(self) -> Iterator[Tuple[Tuple[Binding, ...], List[RetArg]]]:
        have_items = list(self.have.items())
        for bound in _enumerate_bindings(have_items, self._order, ()):
            try:
                returns = self._resolve_generates(bound)
            except NotSolvable:
                continue
            yield bound, returns

    def _resolve_generates(self, bound: Tuple[Binding, ...]) -> List[RetArg]:
        returns: List[RetArg] = [
            (pos, resolve_template(tmpl, bound)) for pos, tmpl in self.task.generates
        ]
        # appends semantics apply only to the single-data-arg, single
        # (unpositioned) return case — the same precondition execution
        # checks before the join-back (reference: tasks.py:237, 262) —
        # so plans never promise columns execution won't deliver.
        if self.task.appends and bound:
            args = {b.arg for b in bound}
            if len(args) == 1 and all(pos is None for pos, _ in returns):
                carried = self.have.get(bound[0].frame, [])
                present = set(returns)
                for col in carried:
                    if (None, col) not in present:
                        returns.append((None, col))
                        present.add((None, col))
        return returns


def callmap_view(bindings: Sequence[Binding]) -> CallReqsMap:
    """Reference-shaped view: {(frame, column): (arg, Variable)}."""
    return {(b.frame, b.column): (b.arg, b.var) for b in bindings}
