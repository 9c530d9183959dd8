"""Seeded input generators for the workloads (pure Python).

Every input the engine sees is derived from the run's seed here, or by
Spark expressions that take the seed and the values generated here as
literals, so the same seed replays the same operation sequence.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

# -- oltp_point ----------------------------------------------------------------


class ZipfKeys:
    """YCSB's scrambled Zipfian key chooser (Gray et al., "Quickly
    generating billion-record synthetic databases", as in YCSB's
    ZipfianGenerator): rank r is drawn with probability ~ 1/(r+1)^theta,
    then scattered over the key space so the hot keys are not adjacent.
    As in YCSB, the scatter is a fixed function of the rank: every seed
    has the same hot keys (and so the same hot partitions), and the seed
    changes only the sequence drawn."""

    def __init__(self, n: int, theta: float, rng: random.Random):
        if n < 3:
            raise ValueError("need at least 3 keys")
        self.n, self.theta, self.rng = n, theta, rng
        zeta2 = 1.0 + 0.5 ** theta
        self.zetan = sum(1.0 / (i ** theta) for i in range(1, n + 1))
        self.alpha = 1.0 / (1.0 - theta)
        self.eta = (1.0 - (2.0 / n) ** (1.0 - theta)) / (1.0 - zeta2 / self.zetan)
        self.half_pow = 1.0 + 0.5 ** theta
        # an odd multiplier coprime to n scatters ranks over [0, n)
        self.mult = 2_654_435_761
        while _gcd(self.mult, n) != 1:
            self.mult += 2

    def rank(self) -> int:
        u = self.rng.random()
        uz = u * self.zetan
        if uz < 1.0:
            return 0
        if uz < self.half_pow:
            return 1
        return min(self.n - 1, int(self.n * (self.eta * u - self.eta + 1.0) ** self.alpha))

    def next(self) -> int:
        return self.rank() * self.mult % self.n


def _gcd(a: int, b: int) -> int:
    while b:
        a, b = b, a % b
    return a


@dataclass(frozen=True)
class OltpSpec:
    n_keys: int = 50_000
    n_fields: int = 3
    write_rows: int = 4  # rows per Session upsert flush
    theta: float = 0.99


def initial_field(seed: int, key: int, i: int) -> str:
    """Value of field ``i`` of ``key`` as loaded; the workload builds the
    same string with Spark expressions for the bulk load."""
    return f"{seed}:{key}:{i}"


def oltp_ops(seed: int, spec: OltpSpec):
    """Endless YCSB-A style stream alternating ("read", key) and
    ("write", ((key, (field values...)), ...)). Alternating rather than
    drawing the kind keeps the read and write counts of a short run
    equal, so each median rests on the same number of samples."""
    rng = random.Random(f"oltp:{seed}")
    keys = ZipfKeys(spec.n_keys, spec.theta, rng)
    while True:
        yield ("read", keys.next())
        yield ("write", tuple(
            (keys.next(), tuple(f"{rng.getrandbits(64):016x}"
                                for _ in range(spec.n_fields)))
            for _ in range(spec.write_rows)))


# -- olap_churn ----------------------------------------------------------------


@dataclass(frozen=True)
class OlapSpec:
    n_rows: int = 300_000
    buckets: int = 4
    upsert_per_mille: int = 10  # ~1% of rows upserted per cycle
    delete_per_mille: int = 2  # ~0.2% of live rows deleted per cycle
    new_key_share: float = 0.02  # upserts also reach this far past the loaded keys
    range_orders: int = 2_000  # width of the key-range scan, in orders


@dataclass(frozen=True)
class OlapCycle:
    cycle: int
    salt: int  # mixes into every Spark hash that picks this cycle's rows
    range_lo: int  # first l_orderkey of the key-range scan


def olap_cycles(seed: int, spec: OlapSpec):
    """Endless per-cycle parameters; cycle 0 is the load."""
    rng = random.Random(f"olap:{seed}")
    n_orders = spec.n_rows // 4
    c = 0
    while True:
        yield OlapCycle(c, rng.getrandbits(31),
                        1 + rng.randrange(max(1, n_orders - spec.range_orders)))
        c += 1
