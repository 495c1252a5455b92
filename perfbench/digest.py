"""Python twin of perfbench.Digest (src/main/scala/perfbench/Digest.scala).

Order-independent table digest: row count plus the wrapping 64-bit sum of
one hash per row. Rendering and hash must stay byte-identical to the
Scala side; the Scala test suite pins both against a shared fixture.
"""
import math

MASK = (1 << 64) - 1


def render(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        return str(int(math.floor(v * 1e6 + 0.5)))
    return str(v)


def row_hash(values):
    h = 0xcbf29ce484222325
    for b in "\x1f".join(render(v) for v in values).encode("utf-8"):
        h = ((h ^ b) * 0x100000001b3) & MASK
    h = ((h ^ (h >> 30)) * 0xbf58476d1ce4e5b9) & MASK
    h = ((h ^ (h >> 27)) * 0x94d049bb133111eb) & MASK
    return h ^ (h >> 31)


def digest(rows, names):
    """(row count, 16-hex-digit digest) of rows whose columns are `names`."""
    order = sorted(range(len(names)), key=lambda i: names[i])
    total, n = 0, 0
    for r in rows:
        total = (total + row_hash([r[i] for i in order])) & MASK
        n += 1
    return n, "%016x" % total
