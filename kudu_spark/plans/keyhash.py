"""Spark's ``xxhash64`` evaluated on the driver, bit for bit.

The write path buckets a row with
``pmod(xxhash64(write_cast(c1), ..., write_cast(cn), lit(seed)), buckets)``
inside the JVM (``Table._partition_exprs``). The scan planner needs the
same function for predicate LITERALS — which bucket can hold
``k = 42``? — and Kudu answers that client-side, as a pure function of
the partition schema and the literal (``common/partition_pruner.cc``).
Running a Spark job per literal to ask the JVM costs more than the read
it plans, so this module recomputes the JVM hash in Python.

Spark's ``XxHash64`` expression (catalyst ``hash.scala``, unsafe
``XXH64.java``) is standard XXH64 over little-endian encodings, seeded
with 42 and chained column to column (each column's hash seeds the
next). Per type:

- ``hashInt`` (4 bytes): tinyint, smallint, int, boolean (1/0), date
  (days since the epoch), float (``floatToIntBits``, -0.0 as 0) and an
  int-typed ``lit(seed)``;
- ``hashLong`` (8 bytes): bigint, timestamp (epoch micros), double
  (``doubleToLongBits``, -0.0 as 0), decimal of precision <= 18 (the
  unscaled value) and a long-typed ``lit(seed)`` (|seed| >= 2^31);
- ``hashUnsafeBytes``: UTF-8 strings, varchar after truncation to its
  length in characters, binary, and decimal of precision > 18 (the
  ``BigInteger.toByteArray`` bytes of the unscaled value);
- a NULL leaves the running hash unchanged.

Literals are coerced as ``_write_cast(F.lit(v), type)`` coerces them,
but only where the result is certain: same-kind values, a
``YYYY-MM-DD`` string against a date, a numeric string or an int
against a decimal, and an in-range int against any integer width.
Anything else raises :class:`LiteralNotHashable`; the planner then
skips hash pruning for that dimension (the scan-side filter still
applies). ``tests/test_keyhash.py`` pins this module to ``F.xxhash64``
over every hashable column type.

``hashInt``/``hashLong`` are XXH64 over the value's 4/8 little-endian
bytes, so every value is encoded to bytes and hashed by one function.
"""

from __future__ import annotations

import calendar
import datetime
import decimal
import math
import numbers
import re
import struct
import time

import numpy as np

from kudu_spark.errors import KuduSparkError

SPARK_SEED = 42  # XxHash64's default seed (catalyst hash.scala)

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


class LiteralNotHashable(KuduSparkError):
    """The driver cannot tell exactly what the write cast makes of a
    literal, so it cannot name its bucket."""


# -- XXH64 -------------------------------------------------------------------


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def _hash_bytes(b: bytes, seed: int) -> int:
    """XXH64.hashUnsafeBytes: standard XXH64 of ``b`` (unsigned result)."""
    n, off = len(b), 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed
        v4 = (seed - _P1) & _M
        while off <= n - 32:
            a, b2, c, d = struct.unpack_from("<4Q", b, off)
            v1, v2, v3, v4 = _round(v1, a), _round(v2, b2), _round(v3, c), _round(v4, d)
            off += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = ((h ^ _round(0, v)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while off + 8 <= n:
        (k,) = struct.unpack_from("<Q", b, off)
        h ^= _round(0, k)
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        off += 8
    if off + 4 <= n:
        (k,) = struct.unpack_from("<I", b, off)
        h ^= (k * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        off += 4
    while off < n:
        h ^= (b[off] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        off += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    return h ^ (h >> 32)


# -- literal coercion (the write cast, where it is exact) ----------------------


def _reject(v, type_str: str):
    raise LiteralNotHashable(
        f"cannot coerce literal {v!r} to {type_str} exactly on the driver")


def _integral(v, lo: int, hi: int, type_str: str) -> int:
    if isinstance(v, (bool, np.bool_)) or not isinstance(v, numbers.Integral):
        _reject(v, type_str)
    v = int(v)
    if not lo <= v <= hi:
        _reject(v, type_str)  # the ANSI cast would fail
    return v


_INT_BITS = {"tinyint": 8, "byte": 8, "smallint": 16, "short": 16,
             "int": 32, "integer": 32, "bigint": 64, "long": 64}
_EPOCH = datetime.date(1970, 1, 1)
_DATE_RE = re.compile(r"\d{4}-\d{2}-\d{2}")
_NUM_RE = re.compile(r"[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?")
_DEC_RE = re.compile(r"decimal\s*(?:\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\))?")
_VARCHAR_RE = re.compile(r"varchar\s*\(\s*(\d+)\s*\)")
_DEC_CTX = decimal.Context(prec=100, rounding=decimal.ROUND_HALF_UP,
                           traps=[decimal.InvalidOperation])


def decimal_ps(type_str: str) -> tuple[int, int] | None:
    """(precision, scale) of a decimal column type, or None for any
    other type; Spark's bare ``decimal`` is decimal(10,0)."""
    m = _DEC_RE.fullmatch(type_str.strip().lower())
    return None if m is None else (int(m.group(1) or 10), int(m.group(2) or 0))


def _date_days(v, type_str: str) -> int:
    if isinstance(v, str) and _DATE_RE.fullmatch(v):
        try:
            v = datetime.date.fromisoformat(v)
        except ValueError:
            _reject(v, type_str)
    elif not isinstance(v, datetime.date) or isinstance(v, datetime.datetime):
        _reject(v, type_str)
    return (v - _EPOCH).days


def _timestamp_micros(v, type_str: str) -> int:
    """Epoch micros of ``F.lit(v)``: PySpark's py4j DatetimeConverter
    reads a naive datetime in the Python process's local zone and an
    aware one by its UTC offset. Spark rebases java.sql.Timestamp values
    from the Julian calendar, which moves instants before the 1582
    Gregorian switch, so those are not hashed here."""
    if not isinstance(v, datetime.datetime) or v.year < 1583:
        _reject(v, type_str)
    secs = (calendar.timegm(v.utctimetuple()) if v.tzinfo
            else time.mktime(v.timetuple()))
    return int(secs) * 1_000_000 + v.microsecond


def _decimal_unscaled(v, precision: int, scale: int, type_str: str) -> int:
    if isinstance(v, str) and _NUM_RE.fullmatch(v):
        v = decimal.Decimal(v)
    elif isinstance(v, numbers.Integral):
        v = decimal.Decimal(_integral(v, -(1 << 63), (1 << 63) - 1, type_str))
    elif not isinstance(v, decimal.Decimal) or not v.is_finite():
        _reject(v, type_str)
    try:
        q = v.quantize(decimal.Decimal(1).scaleb(-scale), context=_DEC_CTX)
    except decimal.InvalidOperation:
        _reject(v, type_str)
    unscaled = int(q.scaleb(scale, context=_DEC_CTX))
    if abs(unscaled) >= 10 ** precision:
        _reject(v, type_str)  # the ANSI cast would overflow
    return unscaled


def _to_byte_array(n: int) -> bytes:
    """java.math.BigInteger.toByteArray: minimal big-endian two's
    complement, at least one sign bit."""
    return n.to_bytes((n if n >= 0 else ~n).bit_length() // 8 + 1, "big", signed=True)


def _float_bytes(v, type_str: str, single: bool) -> bytes:
    """floatToIntBits / doubleToLongBits after the write cast (a Python
    float is a double literal; a float column rounds it, overflowing to
    infinity), with -0.0 as 0 and NaN canonical, as Spark hashes them."""
    if not isinstance(v, (float, np.floating)):
        _reject(v, type_str)
    fmt = "<f" if single else "<d"
    try:
        b = struct.pack(fmt, float(v))
    except OverflowError:
        b = struct.pack(fmt, math.copysign(math.inf, v))
    (x,) = struct.unpack(fmt, b)
    if x == 0:
        return bytes(len(b))
    if x != x:
        return struct.pack("<I", 0x7FC00000) if single else struct.pack("<Q", 0x7FF8000000000000)
    return b


def _encoder(type_str: str):
    """value -> hash input bytes for a declared column type: 4 bytes
    (hashInt), 8 bytes (hashLong) or the value's own bytes."""
    t = type_str.strip().lower()
    if t in _INT_BITS:
        bits = _INT_BITS[t]
        lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
        fmt = "<q" if bits == 64 else "<i"
        return lambda v: struct.pack(fmt, _integral(v, lo, hi, type_str))
    if t == "boolean":
        def boolean(v):
            if not isinstance(v, (bool, np.bool_)):
                _reject(v, type_str)
            return struct.pack("<i", int(bool(v)))
        return boolean
    if t in ("float", "real"):
        return lambda v: _float_bytes(v, type_str, single=True)
    if t == "double":
        return lambda v: _float_bytes(v, type_str, single=False)
    if t == "date":
        return lambda v: struct.pack("<i", _date_days(v, type_str))
    if t == "timestamp":
        return lambda v: struct.pack("<q", _timestamp_micros(v, type_str))
    ps = decimal_ps(t)
    if ps:
        p, s = ps
        if p <= 18:
            return lambda v: struct.pack("<q", _decimal_unscaled(v, p, s, type_str))
        return lambda v: _to_byte_array(_decimal_unscaled(v, p, s, type_str))
    m = _VARCHAR_RE.fullmatch(t)
    if t == "string" or m:
        n = int(m.group(1)) if m else None

        def utf8(v):
            if not isinstance(v, str):
                _reject(v, type_str)
            try:
                return v[:n].encode("utf-8")
            except UnicodeEncodeError:
                _reject(v, type_str)
        return utf8
    if t == "binary":
        def binary(v):
            if not isinstance(v, (bytes, bytearray)):
                _reject(v, type_str)
            return bytes(v)
        return binary
    raise LiteralNotHashable(f"no driver-side hash for column type {type_str}")


def column(type_str: str, values) -> list:
    """Hash inputs of ``values`` (Python literals, None = NULL) as a
    column of declared type ``type_str``; raises LiteralNotHashable."""
    enc = _encoder(type_str)
    return [None if v is None else enc(v) for v in values]


def xxhash64(row, seed: int | None = None) -> int:
    """``F.xxhash64(c1, ..., cn[, F.lit(seed)])`` of one row of hash
    inputs (see :func:`column`), as Spark's signed long — so Python's
    ``%`` by a bucket count is Spark's ``pmod``. ``seed=None`` hashes
    the columns alone (the presence-index hash)."""
    h = SPARK_SEED
    for b in row:
        if b is not None:
            h = _hash_bytes(b, h)
    if seed is not None:
        # F.lit(seed) is an int literal inside int32, a long outside
        h = _hash_bytes(struct.pack("<i" if -(1 << 31) <= seed < (1 << 31) else "<q", seed), h)
    return h - (1 << 64) if h >> 63 else h

