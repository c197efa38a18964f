"""Result digests, shared by the input generator and the checker.

`of_rows` reproduces `perfbench.Digest.ofRows` in the harness exactly:
each row becomes a canonical string (struct fields sorted by name, list
elements sorted, floats replaced by a marker) and the first 8 bytes of
its md5 are summed mod 2^64. Float leaves are kept per path as three
sums: of the values, of their absolute values, and of each value times
a weight in [1, 2) taken from its row's md5, so a value moved to
another row changes the digest. `same` requires row count and exact
hash to match and the float sums to agree to 1e-9 of the absolute sum,
which no summation order can break.
"""
import datetime
import decimal
import hashlib

EPOCH = datetime.datetime(1970, 1, 1)
MASK = (1 << 64) - 1


def _canon(v, path, floats):
    """Canonical text of `v`; float leaves go to `floats` as (path, value)."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return "I" + str(v)
    if isinstance(v, (float, decimal.Decimal)):
        floats.append((path, float(v)))
        return "D"
    if isinstance(v, str):
        return "S" + v
    if isinstance(v, datetime.datetime):
        d = v - EPOCH
        return "T" + str((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return "d" + str((v - EPOCH.date()).days)
    if isinstance(v, dict):
        parts = []
        for k in sorted(v):
            parts.append(k + "=" + _canon(v[k], k if not path else path + "." + k, floats))
        return "{" + ",".join(parts) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(sorted(_canon(x, path + "[]", floats) for x in v)) + "]"
    raise TypeError("no canonical form for %r" % (v,))


def of_rows(rows):
    """Digest of result rows given as dicts (column name -> value)."""
    h = 0
    sums = {}
    for r in rows:
        floats = []
        s = _canon(r, "", floats)
        p = int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")
        h = (h + p) & MASK
        w = 1.0 + (p >> 12) / 2.0 ** 52  # exact in a double, as in the harness
        for path, x in floats:
            a, b, c = sums.get(path, (0.0, 0.0, 0.0))
            sums[path] = (a + x, b + abs(x), c + x * w)
    return {"n": len(rows), "h": format(h, "x"),
            "f": {k: list(v) for k, v in sorted(sums.items())}}


def _close(x, y, scale):
    if x != x and y != y:  # both NaN
        return True
    return abs(x - y) <= 1e-9 * scale + 1e-9


def same(got, want):
    """True when digest `got` matches the expected digest `want`."""
    if not isinstance(got, dict) or not got:
        return False
    if got.get("n") != want.get("n") or str(got.get("h")) != str(want.get("h")):
        return False
    gf, wf = got.get("f", {}), want.get("f", {})
    if sorted(gf) != sorted(wf):
        return False
    for k in wf:
        (gs, ga, gw), (ws, wa, ww) = [[float(x) for x in v] for v in (gf[k], wf[k])]
        scale = 2 * max(abs(ga), abs(wa))
        if not (_close(ga, wa, scale) and _close(gs, ws, scale) and _close(gw, ww, scale)):
            return False
    return True
