"""Failure counting of one benchmark operation."""

from __future__ import annotations

from perfbench.run import run_op


class FakeWorkload:
    """A workload whose operation raises ``error`` or whose check reports
    ``problems``."""

    def __init__(self, error: Exception | None = None, problems: tuple[str, ...] = ()):
        self.error, self.problems = error, problems
        self.tracer = None
        self.op_stats = {"stale": 1.0}
        self.checked = self.cleaned = False

    def prepare(self, i: int) -> dict:
        return {"i": i}

    def run(self, state: dict):
        if self.error is not None:
            raise self.error
        return state["i"]

    def check(self, state: dict, result) -> list[str]:
        self.checked = True
        self.op_stats = {"result": float(result)}
        return list(self.problems)

    def cleanup(self, state: dict) -> None:
        self.cleaned = True


def test_a_correct_operation_has_no_failures():
    wl = FakeWorkload()
    op = run_op(wl, 7, None)
    assert op.failures == [] and wl.checked and wl.cleaned
    assert op.stats == {"result": 7.0} and op.wall >= 0.0 and op.setup >= 0.0


def test_each_check_problem_is_a_failure():
    op = run_op(FakeWorkload(problems=("rows differ", "ids not unique")), 0, None)
    assert op.failures == ["rows differ", "ids not unique"]


def test_a_raising_operation_fails_once_without_a_check_and_is_cleaned_up():
    wl = FakeWorkload(error=RuntimeError("boom"))
    op = run_op(wl, 0, None)
    assert len(op.failures) == 1 and "boom" in op.failures[0]
    assert not wl.checked and wl.cleaned
    # figures of an earlier operation are not reported for this one
    assert op.stats == {}
