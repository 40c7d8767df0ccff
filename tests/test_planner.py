"""Planner-layer unit tests — pandas frames, no Spark session needed.

Scenario parity targets (behavior documented in SURVEY.md §2.11/§3):
the reference's tests/test2.py pipeline, the ``{arg}`` template-index
ordering its tokenize_clean task relies on, and top90's dependent
("{x}") requirements.
"""

import re

import pandas as pd
import pytest

import task_on_dataframes_spark as tada
from task_on_dataframes_spark.plans.task import Task
from task_on_dataframes_spark.plans.unify import TaskCaller
from task_on_dataframes_spark.plans.variable import Variable

ANY = re.compile(r"(.+)")


def test_variable_matching_semantics():
    # exact
    v = Variable("a.b")
    assert v == "a.b"
    assert not (v == "a.bc")
    # anchored-prefix regex (reference: re.match)
    p = Variable(re.compile(r"(.*)\.path"))
    assert p == "usenet.path"
    assert p == "usenet.path.read_file"  # prefix match!
    assert not (p == "pathless")
    # \Z anchoring gives exact
    z = Variable(re.compile(r"(.+\.clean_tokens)\Z"))
    assert z == "doc.clean_tokens"
    assert not (z == "doc.clean_tokens.counts")
    # round-trip encoding
    assert Variable.from_q(v.q_enc()) == "a.b"
    assert Variable.from_q(p.q_enc()).pattern.pattern == r"(.*)\.path"


def test_ignore_case_flag_for_exact_variables():
    """Reference's opt-in global case-insensitivity
    (variable_match_ignore_case, tasks.py:20) applies to exact-string
    variables created while the flag is on."""
    try:
        tada.set_ignore_case(True)
        v = Variable("Doc.Text")
        assert v == "doc.text"
        assert v == "DOC.TEXT"
    finally:
        tada.set_ignore_case(False)
    w = Variable("Doc.Text")
    assert not (w == "doc.text")
    assert w == "Doc.Text"


def test_template_index_uses_binding_order():
    # reference's tokenize_clean: {x} refers to the *pattern* requirement
    # even though an exact one is declared first
    with tada.temporary_tasks() as reg:

        @tada.new_task()
        @tada.requires(["sample_ind", re.compile(r"(.+)\.tokens")], arg="x")
        @tada.makes(["sample_ind", r"{x}.clean_tokens"], appends=False)
        @tada.close_task()
        def tokenize_clean(x):
            return x

        task = reg["tokenize_clean"]
        calls = list(TaskCaller({0: ["sample_ind", "doc.tokens"]}, task).satisfy())
        assert len(calls) == 1
        _, returns = calls[0]
        assert returns == [(None, "sample_ind"), (None, "doc.clean_tokens")]


def test_dependent_requires_bind_last_and_same_frame():
    with tada.temporary_tasks() as reg:

        @tada.new_task()
        @tada.requires([re.compile(r"(.+\.clean_tokens)\Z")], arg="x")
        @tada.requires([r"{x}", r"{x}.counts"], arg="y")
        @tada.makes([r"{x}.top90"], appends=False)
        @tada.close_task()
        def top90(x, y):
            return x

        task = reg["top90"]
        have = {
            0: ["doc.clean_tokens"],
            1: ["doc.clean_tokens", "doc.clean_tokens.counts"],
        }
        calls = list(TaskCaller(have, task).satisfy())
        # y's two requirements must land in one frame (frame 1), and each
        # (frame, column) binds at most once, so x binds frame 0's column
        assert len(calls) == 1
        bindings, returns = calls[0]
        by_arg = {}
        for b in bindings:
            by_arg.setdefault(b.arg, []).append((b.frame, b.column))
        assert by_arg["x"] == [(0, "doc.clean_tokens")]
        assert sorted(by_arg["y"]) == [
            (1, "doc.clean_tokens"),
            (1, "doc.clean_tokens.counts"),
        ]
        assert returns == [(None, "doc.clean_tokens.top90")]


def test_all_dynamic_requires_is_bad_task():
    task = Task(name="bad", requires=[("x", Variable("{x}.c"))], generates=[])
    have = {0: ["a"]}
    with pytest.raises(tada.plans.task.BadTask):
        TaskCaller(have, task)


def test_planner_end_to_end_test2_shape():
    """Reproduce the reference's tests/test2.py on pandas frames:
    goal 'name.split.alpha' from a literal frame via two generic tasks."""
    with tada.temporary_tasks():

        @tada.new_task()
        @tada.requires([ANY], arg="x")
        @tada.makes([r"{x}.alpha"], appends=True)
        @tada.close_task()
        def remove_num(x, requires, expects):
            data = x[x.columns[0]].str.replace(r"\d", "", regex=True)
            return data.rename(expects[0][1]).to_frame()

        @tada.new_task()
        @tada.requires([ANY], arg="x")
        @tada.makes([r"{x}.split"], appends=True)
        @tada.close_task()
        def splitter(x, requires, expects):
            data = x[x.columns[0]].str.split(" ").explode()
            return data.rename(expects[0][1]).to_frame()

        src = pd.DataFrame([["sankho123 turjo sarkar456"]], columns=["name"])
        result = tada.solve_goal([src], ["name.split.alpha"])
        vals = sorted(result["name.split.alpha"].tolist())
        assert vals == ["sankho", "sarkar", "turjo"]


def test_appends_carries_source_columns_plan_and_exec_agree():
    with tada.temporary_tasks():

        @tada.new_task()
        @tada.requires(["a"], arg="x")
        @tada.makes(["a.up"], appends=True)
        @tada.close_task()
        def upper(x, expects):
            return x["a"].str.upper().rename(expects[0][1]).to_frame().join(x)

        src = pd.DataFrame({"a": ["p", "q"], "b": [1, 2]})
        path = tada.find_path([["a", "b"]], [["a.up", "b"]])
        assert path, "appends expansion should expose carried column b"
        frames = tada.Executor([src], [["a.up", "b"]])
        goal = frames[-1]
        assert set(goal.columns) >= {"a.up", "a", "b"}
        assert goal.sort_values("a")["a.up"].tolist() == ["P", "Q"]


def test_multiple_goal_sets_must_all_be_satisfied():
    """A build request is a list of goal column SETS — each must be
    covered by some frame (reference: Executor(sources, build),
    solve.py:93-102)."""
    with tada.temporary_tasks():

        @tada.new_task()
        @tada.requires(["a"], arg="x")
        @tada.makes(["a.up"], appends=False)
        @tada.close_task()
        def up(x, expects):
            return x["a"].str.upper().rename(expects[0][1]).to_frame()

        @tada.new_task()
        @tada.requires(["a"], arg="x")
        @tada.makes(["a.len"], appends=False)
        @tada.close_task()
        def ln(x, expects):
            return x["a"].str.len().rename(expects[0][1]).to_frame()

        src = pd.DataFrame({"a": ["xy", "z"]})
        frames = tada.Executor([src], [["a.up"], ["a.len"]])
        assert any("a.up" in f.columns for f in frames)
        assert any("a.len" in f.columns for f in frames)
        # an unsatisfiable member set fails the whole request
        with pytest.raises(RuntimeError):
            tada.Executor([src], [["a.up"], ["nope"]])


def test_generic_task_cap_limits_reuse():
    with tada.temporary_tasks():

        @tada.new_task()
        @tada.requires([ANY], arg="x")
        @tada.makes([r"{x}.z"], appends=False)
        @tada.close_task()
        def zed(x, expects):
            return x

        # z.z.z needs zed three times; cap is 1 → no plan
        path = tada.find_path([["a"]], [["a.z.z.z"]])
        assert path == []
        path1 = tada.find_path([["a"]], [["a.z"]])
        assert [a.Task for a, _ in path1 if a] == ["zed"]


def test_multi_output_positions():
    with tada.temporary_tasks() as reg:

        @tada.new_task()
        @tada.requires(["a"], arg="x")
        @tada.makes(["left"], return_pos=0, appends=False)
        @tada.makes(["right"], return_pos=1, appends=False)
        @tada.close_task()
        def split2(x):
            l = x.rename(columns={"a": "left"})
            r = x.rename(columns={"a": "right"})
            return [l, r]

        src = pd.DataFrame({"a": [1, 2]})
        frames = tada.Executor([src], [["right"]])
        assert any(list(f.columns) == ["right"] for f in frames)


def test_reindex_missing_column_warns_and_fills_null():
    from task_on_dataframes_spark.runtime import reindex_frame

    src = pd.DataFrame({"a": [1]})
    with pytest.warns(UserWarning):
        out = reindex_frame(src, ["a", "ghost"])
    assert out["ghost"].isna().all()


def test_generic_repeat_cap_default_blocks_double_use():
    """Reference parity (frame_tasks/solve.py:11): the default cap of 1
    makes a goal needing TWO uses of one generic task unsatisfiable."""
    from task_on_dataframes_spark.plans.solve import find_path

    with tada.temporary_tasks() as reg:

        @tada.new_task()
        @tada.requires([re.compile(r"(.+)\.v")], arg="x")
        @tada.makes([r"{x}.v.v"], appends=False)
        @tada.close_task()
        def doubler(x):
            return x

        # d.v -> d.v.v -> d.v.v.v needs doubler twice
        assert find_path([["d.v"]], [["d.v.v.v"]], registry=reg) == []


def test_generic_repeat_module_global_still_honored(monkeypatch):
    """The module global is read at call time: a cap of 2 or None
    (unlimited, the reference's escape hatch) lifts the default."""
    from task_on_dataframes_spark.plans import solve as solve_mod

    with tada.temporary_tasks() as reg:

        @tada.new_task()
        @tada.requires([re.compile(r"(.+)\.v")], arg="x")
        @tada.makes([r"{x}.v.v"], appends=False)
        @tada.close_task()
        def doubler(x):
            return x

        for cap in (2, None):
            monkeypatch.setattr(solve_mod, "MAX_REPEAT_GENERIC_TASK", cap)
            path = solve_mod.find_path(
                [["d.v"]], [["d.v.v.v"]], registry=reg
            )
            assert [a.Task for a, _ in path if a is not None] == [
                "doubler",
                "doubler",
            ], cap
