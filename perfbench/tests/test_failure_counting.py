"""Raising operations count as failed and never end a run early."""

import statistics
from types import SimpleNamespace

from perfbench.spans import Tracer
from perfbench.stats import Tally
from perfbench.workloads.convert_batch import ConvertBatch
from perfbench.workloads.query_mix import MIN_PASSES, QueryMix


class _FakeFrame:
    """Just enough of a DataFrame for `df.write.format().mode().save()`."""

    @property
    def write(self):
        return self

    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        pass


def _raising_on(calls: set[int]):
    n = {"i": 0}

    def fn(*_args, **_kwargs):
        n["i"] += 1
        if n["i"] in calls:
            raise RuntimeError("boom")
        return _FakeFrame()

    return fn


def _mix(**fns) -> QueryMix:
    mix = object.__new__(QueryMix)
    mix.sf_dir = "unused"
    mix.queries = [SimpleNamespace(name=name, fn=fn) for name, fn in fns.items()]
    mix._checked = True
    return mix


def test_query_raising_in_one_pass_is_one_failure():
    mix = _mix(q_ok=_raising_on(set()), q_flaky=_raising_on({2}))
    tally = Tally()
    e2e = mix.measure(None, 0.0, tally, Tracer(False))
    assert len(e2e["samples"]) == MIN_PASSES
    assert e2e["latency_p50_s"] == statistics.median(e2e["samples"])
    assert (tally.attempted, tally.failed) == (2 * MIN_PASSES, 1)
    assert tally.reasons == {"q_flaky: raised": 1}
    assert set(e2e["per_query"]) == {"q_ok", "q_flaky"}


def test_query_raising_in_every_pass_still_gives_a_pass_time():
    mix = _mix(q_ok=_raising_on(set()), q_bad=_raising_on(set(range(1, 100))))
    tally = Tally()
    e2e = mix.measure(None, 0.0, tally, Tracer(False))
    assert len(e2e["samples"]) == MIN_PASSES
    assert tally.failed == MIN_PASSES
    assert set(e2e["per_query"]) == {"q_ok"}


def test_raising_request_is_failed_and_not_checked():
    batch = object.__new__(ConvertBatch)
    batch.work = SimpleNamespace(new_path=lambda name: name)
    batch._request = _raising_on({2})
    batch._warm_up = lambda spark, tally: None
    checked = []

    def check(out, tally):
        checked.append(out)
        tally.ok()

    batch._check = check
    tally = Tally()
    e2e = batch.measure(None, 0.0, tally, Tracer(False))
    assert len(e2e["samples"]) == 3
    assert len(checked) == 2
    assert (tally.attempted, tally.failed) == (3, 1)
    assert tally.reasons == {"request raised RuntimeError": 1}
