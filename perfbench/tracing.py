"""In-process tracing from the benchmark's own files (``--trace 1``).

Public functions of the layers are wrapped at run time; no program file is
edited. Spans are kept in memory. :meth:`Tracer.self_times` splits the wall
time of the traced region among the spans: every instant goes to the
innermost spans active then, shared equally when several run at once, so the
self times and the remainder add up to the wall time exactly.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict

from use_clickhouse_2_analyze_mysql_binlog_spark.functions import ch_compat
from use_clickhouse_2_analyze_mysql_binlog_spark.operators import cachetrack
from use_clickhouse_2_analyze_mysql_binlog_spark.streaming import epochs

#: layers whose self time is reported, in a fixed order for every workload
SELF_LAYERS = tuple(
    f"{q}.{part}" for q in ("ingest", "upsert", "rollup", "window")
    for part in ("query", "trigger", "batch")
) + ("epochs.publish", "analytics.build", "ch_compat.translate",
     "analytics.exec", "dedup.exec", "similarity.exec", "curation.exec")


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.wrapper_s = 0.0  # bookkeeping time spent inside the wrappers
        self._undo: list = []
        # foreachBatch bodies call the wrappers from Spark's callback threads
        self._lock = threading.Lock()

    # -- spans -----------------------------------------------------------
    def span(self, layer: str, t0: float, t1: float, parent: int | None = None,
             **attrs) -> int:
        self.spans.append({"layer": layer, "t0": t0, "t1": t1,
                           "parent": parent, **attrs})
        return len(self.spans) - 1

    def self_times(self, root: int) -> dict[str, float]:
        """Seconds of the root span's interval attributed to each layer."""
        s = self.spans
        kids = defaultdict(list)
        for i, sp in enumerate(s):
            if sp["parent"] is not None:
                kids[sp["parent"]].append(i)
        tree, todo = [], [root]
        while todo:
            i = todo.pop()
            tree.append(i)
            todo.extend(kids[i])
        lo, hi = s[root]["t0"], s[root]["t1"]
        cuts = sorted({lo, hi} | {min(max(s[i][k], lo), hi) for i in tree
                                  for k in ("t0", "t1")})
        out: dict[str, float] = defaultdict(float)
        for a, b in zip(cuts, cuts[1:]):
            active = {i for i in tree if s[i]["t0"] <= a and s[i]["t1"] >= b}
            leaves = [i for i in active if not any(k in active for k in kids[i])]
            for i in leaves:
                out[s[i]["layer"]] += (b - a) / len(leaves)
        return out

    # -- wrapping ----------------------------------------------------------
    def _wrap(self, owner, attr: str, on_call):
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            t0 = time.time()
            out = orig(*args, **kwargs)
            t1 = time.time()
            with self._lock:
                on_call(t0, t1, args, out)
                self.wrapper_s += time.time() - t1
            return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        def count(name):
            def on_call(t0, t1, args, out):
                self.counts[f"{name}.calls"] += 1
                self.counts[f"{name}.s"] += t1 - t0
                self.span(name, t0, t1, None, arg=args[0] if args else None)
            return on_call

        self._wrap(ch_compat, "translate", count("ch_compat.translate"))
        self._wrap(epochs, "publish_snapshot", count("epochs.publish"))
        self._wrap(epochs, "mark_epoch_committed", count("epochs.publish"))
        self._wrap(epochs.TxnSink, "commit", count("epochs.publish"))

        def on_track(t0, t1, args, out):
            self.counts["cachetrack.builds"] += 1
            self.span("cachetrack.track", t0, t1, None)

        def on_release(t0, t1, args, out):
            self.counts["cachetrack.released"] += out

        # operators import these at call time, and release_all calls
        # release through the module, so the wrappers see every call
        self._wrap(cachetrack, "track", on_track)
        self._wrap(cachetrack, "release", on_release)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()
