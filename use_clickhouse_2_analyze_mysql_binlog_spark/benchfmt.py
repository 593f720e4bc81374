"""Compact bench-output codec shared by bench.py / bench_compare.py / tests.

Why this exists: the round driver records only the LAST 2000 characters of
bench.py's stdout and then tries to ``json.loads`` the final line.  A flat
``{"query_name": seconds}`` dict over the full registry is ~2.5 KB compact
— it can NEVER fit, so rounds 2-3 recorded ``"parsed": null`` and lost ~25
per-query numbers to front-of-line truncation.  The round-4 nested-name
codec bought two rounds, but at 86 registry queries even it overflows: the
names themselves are the bulk.

Round-5 shape — **positional** values, names by reference:

- ``"queries"`` is a JSON array of integer times in the unit named by
  ``"qunit"`` (``"ms"``, falling back to coarser units only if the line
  would still exceed the tail budget), ordered by SORTED query name.
- ``"qsig"`` is the crc32 (8 hex chars) of the newline-joined sorted name
  list, so a decoder can verify it is pairing values with the right
  registry version; ``"qn"`` is the count.  The name list itself lives in
  the repo at the same commit (``queries_registry.QUERIES``) and at full
  precision in the committed ``BENCH_FULL_r{N}_sf{sf}.json`` snapshots —
  decode with :func:`decode_queries_positional`.

Rounds 2-4 wrote a nested-name dict; that codec is gone, so those
artifacts no longer decode.

The headline metric fields (``metric``/``value``/``unit``/``sf``) keep the
spec shape and plain-seconds units; only the per-query payload is encoded.
"""

from __future__ import annotations

import json

# The driver keeps the last 2000 bytes of stdout; the final line plus its
# newline must fit inside that window to survive intact.
TAIL_BUDGET = 1990

_UNIT_SCALE = {"ms": 1000, "cs": 100, "ds": 10, "s": 1}


def name_signature(names: list[str]) -> str:
    """8-hex crc32 of the newline-joined SORTED name list."""
    import zlib

    payload = "\n".join(sorted(names)).encode()
    return f"{zlib.crc32(payload) & 0xFFFFFFFF:08x}"


def decode_queries_positional(
    values: list[int], unit: str, names: list[str], qsig: str | None = None
) -> dict[str, float]:
    """Invert the positional encoding: pair ``values`` with the sorted
    ``names``. If ``qsig`` is given, verify it matches the name list —
    a mismatch means the registry changed since the line was emitted
    (recover full names from the BENCH_FULL_r{N}_sf{sf}.json snapshot of
    that round instead)."""
    snames = sorted(names)
    if qsig is not None and name_signature(snames) != qsig:
        raise ValueError(
            "qsig mismatch: these positional values were emitted against a "
            "different registry name list; decode via that round's "
            "BENCH_FULL snapshot"
        )
    if len(values) != len(snames):
        raise ValueError(
            f"{len(values)} values for {len(snames)} names"
        )
    scale = _UNIT_SCALE[unit]
    return {n: v / scale for n, v in zip(snames, values)}


def compact_line(
    timings_sec: dict[str, float],
    headline_value_sec: float,
    total_sec: float,
    sf,
    headline_passes: int = 1,
    warmup_total_sec: float | None = None,
) -> str:
    """The single stdout JSON line, guaranteed <= TAIL_BUDGET chars.

    Positional values (sorted-name order) at ms precision, degrading to
    coarser units only if needed — ms fits a ~300-query registry with room
    to spare; full float seconds live in the BENCH_FULL snapshots.

    ``warmup_total_sec`` (r15, VERDICT r14 next #3) records the untimed
    shared-cache warm-up work as ``wu`` beside ``total``, so the emitted
    line accounts for every computation the run performed; ``total``
    keeps its historical sum-of-per-query meaning.
    """
    snames = sorted(timings_sec)
    for unit in ("ms", "cs", "ds", "s"):
        scale = _UNIT_SCALE[unit]
        doc = {
            "metric": "headline_query_wall_seconds",
            "value": round(headline_value_sec, 3),
            "unit": "sec",
            "sf": sf,
            "total": round(total_sec, 2),
            "qunit": unit,
            "qn": len(snames),
            "qsig": name_signature(snames),
            "hp": headline_passes,
            "queries": [
                int(round(timings_sec[n] * scale)) for n in snames
            ],
        }
        if warmup_total_sec is not None:
            doc["wu"] = round(warmup_total_sec, 2)
        line = json.dumps(doc, separators=(",", ":"), sort_keys=True)
        if len(line) <= TAIL_BUDGET:
            return line
    return line  # overflow even at whole seconds: emit anyway
