"""Pure functions of the benchmark: result fingerprints, the percentile
rule and span self-times. `test_measure.py` tests them."""
import datetime
import decimal
import hashlib
import math

# --- result fingerprints ----------------------------------------------------
# Must stay rule-for-rule identical to harness/src/perfbench/Fingerprint.scala,
# which fingerprints the Spark side.


def number(x) -> str:
    """A number by value: the shortest decimal digits that read back as a
    float (Python's repr), or a decimal's exact digits; no exponent, no
    trailing zeros."""
    if isinstance(x, float):
        if math.isnan(x):
            return "NaN"
        if math.isinf(x):
            return "Infinity" if x > 0 else "-Infinity"
        x = decimal.Decimal(repr(x))
    if x == 0:
        return "0"
    return format(x.normalize(), "f")


def timestamp(t: datetime.datetime) -> str:
    if t.tzinfo is not None:
        t = t.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if t.time() == datetime.time(0, 0):
        return t.date().isoformat()
    s = t.strftime("%Y-%m-%d %H:%M:%S")
    return s + (f".{t.microsecond:06d}" if t.microsecond else "")


def cell(v, is_map: bool = False) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        return number(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        return timestamp(v)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        if is_map:
            pairs = v.items() if set(v) != {"key", "value"} else zip(v["key"], v["value"])
            return "{" + ", ".join(sorted(f"{cell(k)}: {cell(w)}" for k, w in pairs)) + "}"
        return "{" + ", ".join(cell(x) for x in v.values()) + "}"
    return str(v)


def escape(s: str) -> str:
    return s.replace("\\", "\\\\").replace("|", "\\|")


def fingerprint(columns, rows, map_columns=()) -> str:
    """Row-order-insensitive: columns in name order, each row hashed with
    SHA-256, row hashes summed in two 64-bit lanes."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = hashlib.sha256("|".join(columns[i] for i in order).encode()).hexdigest()[:8]
    s1 = s2 = 0
    for r in rows:
        line = "|".join(escape(cell(r[i], columns[i] in map_columns)) for i in order)
        d = hashlib.sha256(line.encode()).digest()
        s1 += int.from_bytes(d[0:8], "little")
        s2 += int.from_bytes(d[8:16], "little")
    mask = (1 << 64) - 1
    return f"{cols}:{len(rows)}:{s1 & mask:016x}{s2 & mask:016x}"


# --- percentiles -------------------------------------------------------------

def percentile(values, p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def beyond(n: int, p: float) -> int:
    """Samples that lie beyond the nearest-rank p-th percentile of n."""
    return n - math.ceil(p / 100 * n)


def supported(n: int, p: float, need: int = 10) -> bool:
    """A percentile is reported only with at least `need` samples beyond it."""
    return beyond(n, p) >= need


# --- spans -------------------------------------------------------------------

def union(intervals):
    """Sorted, disjoint cover of the given (start, end) intervals."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def length(intervals) -> float:
    return sum(e - s for s, e in union(intervals))


def clip(interval, bounds):
    return (max(interval[0], bounds[0]), min(interval[1], bounds[1]))


def self_times(spans):
    """Self time per span name, for the spans of one call.

    `spans` are dicts with id, name, start, end, parent (-1 for the root).
    Every span is first clipped to its parent. A name's self time is the
    time covered by its spans and by none of their children, so spans of
    one name that overlap (concurrent jobs) count once, and the names'
    self times add up to the root's duration."""
    by_id = {s["id"]: s for s in spans}
    clipped = {}

    def bounds(i):
        if i not in clipped:
            s = by_id[i]
            iv = (s["start"], s["end"])
            if s["parent"] in by_id:
                iv = clip(iv, bounds(s["parent"]))
            clipped[i] = iv
        return clipped[i]

    names = {}
    for s in spans:
        names.setdefault(s["name"], []).append(s["id"])
    out = {}
    for name, ids in names.items():
        own = union(bounds(i) for i in ids)
        kids = [bounds(c["id"]) for c in spans if c["parent"] in ids and c["name"] != name]
        covered = union(kids)
        out[name] = length(own) - overlap(own, covered)
    return out


def overlap(a, b) -> float:
    """Length of the intersection of two disjoint sorted interval lists."""
    i = j = 0
    total = 0.0
    while i < len(a) and j < len(b):
        lo, hi = max(a[i][0], b[j][0]), min(a[i][1], b[j][1])
        total += max(0.0, hi - lo)
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return total
