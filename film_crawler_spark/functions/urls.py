"""URL canonicalization, hashing, and crawl-math primitives.

The reference canonicalizes implicitly — it only ever regex-extracts the
entity id from a URL (reference spiders.py:303, 746, 1581) and builds
URLs by string concat (spiders.py:97-98, 310-329, 713). The engine makes
canonicalization explicit (north_rule: murmur3 over RFC-3986-normalized
URLs): lowercase scheme/host, default-port strip, fragment strip, dot-
segment removal, query-param sort, percent-encoding normalization.

Two faces of every function:

* a plain-Python implementation (used by the reference simulator and by
  the pandas UDFs, applied per-batch via ``pd.Series.map`` — the batch
  boundary is Arrow, so Spark never sees per-row Python), and
* where Spark built-ins can express it, a Column builder so the hot path
  stays inside WholeStageCodegen (``ori_url_col``, ``pages_col``).
"""

from __future__ import annotations

import re
from urllib.parse import urlsplit

from pyspark.sql import Column
from pyspark.sql import functions as F

DEFAULT_PORTS = {"http": "80", "https": "443"}

_ID_RE = re.compile(r"/((?:tt|nm|ev|rm|co|ur)\d+)")

_UNRESERVED = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_HEX2 = re.compile(r"[0-9A-Fa-f]{2}")
# raw characters legal (kept as-is) per component, beyond unreserved
_PATH_ALLOWED = frozenset("!$&'()*+,;=:@")
_QUERY_ALLOWED = frozenset("!$'()*+,;=:@/?")  # no raw '&': tokens split on it


def _pct_normalize(s: str, allowed: frozenset) -> str:
    """RFC-3986 6.2.2 percent-encoding normalization of one component:
    decode escapes of UNRESERVED bytes only (decoding a reserved byte
    like %26 would change the URL's structure), uppercase the hex of
    escapes that must stay, and encode raw chars outside
    unreserved+allowed. Idempotent: the output alphabet is exactly
    (unreserved | allowed | uppercase-escapes-of-everything-else)."""
    ok = _UNRESERVED | allowed
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "%" and i + 3 <= n and _HEX2.fullmatch(s[i + 1 : i + 3]):
            ch = chr(int(s[i + 1 : i + 3], 16))
            out.append(ch if ch in _UNRESERVED else "%" + s[i + 1 : i + 3].upper())
            i += 3
        else:
            if c in ok:
                out.append(c)
            else:
                out.append("".join(f"%{b:02X}" for b in c.encode("utf-8")))
            i += 1
    return "".join(out)


def canonicalize_url(url: str) -> str:
    """RFC-3986 normalization, deterministic and idempotent.

    lowercase scheme+host; strip default port; strip fragment; remove
    dot-segments; collapse empty path to '/'; normalize percent-encoding
    per component (decode unreserved-byte escapes ONLY — reserved
    escapes like %26 keep their structural meaning); THEN sort query
    tokens bytewise (normalize-before-sort keeps the order a fixed
    point under re-canonicalization).
    """
    u = urlsplit(url.strip())
    scheme = u.scheme.lower() or "http"
    host = u.hostname.lower() if u.hostname else ""
    port = u.port
    netloc = host
    if port is not None and str(port) != DEFAULT_PORTS.get(scheme, ""):
        netloc = f"{host}:{port}"
    # RFC 3986 order: percent-normalize each segment FIRST (so %2E%2E
    # becomes '..' before this pass), THEN remove dot-segments — doing it
    # the other way round produces literal '../' output that a second
    # canonicalize would collapse, breaking idempotency.
    segs: list[str] = []
    for seg in (_pct_normalize(s, _PATH_ALLOWED) for s in u.path.split("/")):
        if seg == "..":
            if segs:
                segs.pop()
        elif seg != ".":
            segs.append(seg)
    path = "/".join(segs)
    if not path.startswith("/"):
        path = "/" + path
    query = ""
    if u.query:
        parts = sorted(
            _pct_normalize(p, _QUERY_ALLOWED) for p in u.query.split("&") if p
        )
        query = "&".join(parts)
    return f"{scheme}://{netloc}{path}" + (f"?{query}" if query else "")


def url_host(url: str) -> str:
    h = urlsplit(url).hostname
    return h.lower() if h else ""


def extract_entity_id(url: str) -> str | None:
    """tt/nm/ev/rm/co/ur id from a URL path (reference spiders.py:303)."""
    m = _ID_RE.search(url)
    return m.group(1) if m else None


def murmur3_x86_32(data: bytes, seed: int = 42) -> int:
    """Murmur3 x86 32-bit, identical to Spark's ``hash()`` on strings
    (Spark hashes the UTF-8 bytes with seed 42). Returns signed int32.
    Used so the pure-Python simulator and the engine agree on shard keys.
    """
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    rounded = n - (n % 4)
    for i in range(0, rounded, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    # Spark (like Guava) processes the tail bytes ONE at a time as full
    # mixes of the sign-extended byte — not the standard murmur3 tail.
    for i in range(rounded, n):
        b = data[i]
        if b >= 128:
            b -= 256
        k = (b * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def url_shard(canonical_url: str, n_shards: int) -> int:
    """Seen-set shard key: murmur3 mod n_shards (non-negative)."""
    return murmur3_x86_32(canonical_url.encode("utf-8")) % n_shards


# ---------------------------------------------------------------------------
# Column builders (JVM-side, codegen-friendly)
# ---------------------------------------------------------------------------


def ori_url_col(large: Column) -> Column:
    """Derive the original-resolution URL from the 'large' rendition URL:
    split on '.', keep segments [:3] + [-1:], rejoin (reference
    spiders.py:767-771 — strips the size-spec segment)."""
    parts = F.split(large, r"\.")
    return F.concat_ws(
        ".",
        F.slice(parts, 1, 3),
        F.array(F.element_at(parts, -1)),
    )


def ori_url(large: str) -> str:
    """Python twin of ori_url_col (simulator + UDF side)."""
    parts = large.split(".")
    return ".".join(parts[:3] + parts[-1:])


def pages_col(n_items: Column, per_page: int) -> Column:
    """ceil(n/k) pagination math (reference spiders.py:707-709)."""
    return F.ceil(n_items / F.lit(per_page)).cast("int")


def n_pages(n_items: int, per_page: int) -> int:
    return -(-n_items // per_page) if n_items > 0 else 0


def shard_col(url_col: Column, n_shards: int = 64) -> Column:
    """Spark-side shard key — F.hash IS murmur3_x86_32(seed=42), so this
    agrees with ``url_shard`` above (unit-tested parity). The default is
    the ``shard`` column of the seen and frontier tables."""
    return F.pmod(F.hash(url_col), F.lit(n_shards))
