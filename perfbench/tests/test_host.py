"""Host guard of the benchmark: a core level the affinity mask cannot hold
fails loudly instead of silently clamping.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import host  # noqa: E402
import spans  # noqa: E402


def test_level_larger_than_affinity_mask_raises():
    n = len(os.sched_getaffinity(0))
    with pytest.raises(host.HostTooSmall, match="exceeds"):
        host.cores_for_level(n + 1)


def test_levels_within_the_mask():
    mask = sorted(os.sched_getaffinity(0))
    assert host.cores_for_level("all") == mask
    assert host.cores_for_level(1) == mask[:1]
    with pytest.raises(ValueError):
        host.cores_for_level(0)


def test_pin_cores_checks_the_kernel_kept_the_mask():
    before = os.sched_getaffinity(0)
    try:
        host.pin_cores(host.cores_for_level(1))
        assert len(os.sched_getaffinity(0)) == 1
    finally:
        os.sched_setaffinity(0, before)


def test_working_set_beyond_memory_budget_raises():
    avail_mb = host.meminfo_kb()["MemAvailable"] // 1024
    with pytest.raises(host.HostTooSmall):
        host.memory_plan(avail_mb)
    plan = host.memory_plan(16)
    assert 1024 <= plan["driver_heap_mb"] <= 2048


def test_fingerprint_names_the_host_and_engine():
    fp = host.fingerprint(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
    assert fp["nproc"] == len(os.sched_getaffinity(0))
    assert fp["mem_total_mb"] > 0 and fp["cpu_model"]
    assert fp["engine"].startswith(("git:", "src-sha256:"))


def test_span_self_time_subtracts_children():
    t = spans.Tracer()
    with t.span("outer", trace_id="e:1"):
        with t.span("inner"):
            pass
    inner, outer = sorted(t.spans, key=lambda s: s.name)
    assert inner.parent == outer.sid and inner.trace_id == "e:1"
    assert abs(outer.self_s - (outer.wall_s - inner.wall_s)) < 1e-9


def test_wrap_restores_the_binding_and_respects_epoch_filter():
    class Owner:
        @staticmethod
        def work(epoch_id=None):
            return epoch_id

    orig = Owner.work
    t = spans.Tracer()
    t.wrap(Owner, "work", "owner.work")
    t.epoch_filter = lambda e: e % 2 == 0
    assert Owner.work(epoch_id=2) == 2 and Owner.work(epoch_id=3) == 3
    assert [s.trace_id for s in t.spans] == ["None:2"]
    t.restore()
    assert Owner.work is orig
