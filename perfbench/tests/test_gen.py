"""The workload generators are deterministic in the seed: no Spark needed."""

import itertools
import random

from perfbench import gen


def _take(it, n):
    return list(itertools.islice(it, n))


def test_oltp_ops_repeat_for_a_seed_and_differ_across_seeds():
    spec = gen.OltpSpec(n_keys=1_000)
    a = _take(gen.oltp_ops(7, spec), 500)
    assert a == _take(gen.oltp_ops(7, spec), 500)
    assert a != _take(gen.oltp_ops(8, spec), 500)
    assert {kind for kind, _ in a} == {"read", "write"}
    keys = [k for kind, arg in a for k in ([arg] if kind == "read" else [r[0] for r in arg])]
    assert all(0 <= k < spec.n_keys for k in keys)
    assert all(len(arg) == spec.write_rows for kind, arg in a if kind == "write")


def test_zipf_keys_are_skewed_and_in_range():
    z = gen.ZipfKeys(10_000, 0.99, random.Random(1))
    draws = [z.next() for _ in range(20_000)]
    assert all(0 <= k < 10_000 for k in draws)
    top = max(draws.count(k) for k in set(draws))
    assert top > 20_000 * 0.05  # the hottest key takes several percent
    assert len(set(draws)) > 1_000  # and the tail is long


def test_olap_cycles_repeat_for_a_seed_and_differ_across_seeds():
    spec = gen.OlapSpec()
    a = _take(gen.olap_cycles(3, spec), 20)
    assert a == _take(gen.olap_cycles(3, spec), 20)
    assert a != _take(gen.olap_cycles(4, spec), 20)
    assert [c.cycle for c in a] == list(range(20))
    assert all(1 <= c.range_lo <= spec.n_rows // 4 for c in a)
