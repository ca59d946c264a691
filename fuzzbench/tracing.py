"""Per-layer tracing from outside the engine.

:func:`install` replaces the layer functions that
``operators.matcher.fuzzy_match_dfs`` calls through its module globals
with wrappers that open a span, call the original, and materialize a
DataFrame result (``localCheckpoint``) inside the span. Every layer's
output is then computed exactly once, inside its own span, so a span's
self time is the work of that layer alone. Row counts for the ratios are
taken after the layer span closes, inside ``trace.bookkeeping`` spans.

Spans are kept in memory (name, id, parent, join id, start, end,
counts) and written out once at the end of the run.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from statistics import median
from typing import Dict, List, Optional

from pyspark.sql import functions as F

# span name -> per-layer metric reporting that span's self time
LAYER_METRICS = {
    "planner.stats": "planner.stats_s",
    "matcher.index": "matcher.index_s",
    "matcher.key_frames": "matcher.key_frames_s",
    "matcher.first_round": "matcher.first_round_s",
    "candidates.exact": "candidates.exact_s",
    "matcher.score": "matcher.score_s",
    "candidates.ann": "candidates.ann_s",
    "candidates.attach": "candidates.attach_s",
    "matcher.refine": "matcher.refine_s",
    "matcher.payload": "matcher.payload_s",
    "trace.bookkeeping": "trace.bookkeeping_s",
}


class Tracer:
    def __init__(self) -> None:
        self.spans: List[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root: Optional[int] = None
        self._join: Optional[int] = None
        # frames and call arguments kept from the first traced join for
        # the kernel probes
        self.captured: Dict[str, object] = {}

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        """Record a span; yields its counts dict. Spans opened on threads
        the engine starts have no stack and hang off the join span."""
        stack = self._stack()
        rec = {
            "name": name,
            "id": next(self._ids),
            "parent": stack[-1] if stack else self._root,
            "join": self._join,
            "counts": {},
        }
        stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def join(self, join_id: int):
        self._join = join_id
        with self.span("join") as counts:
            self._root = self._stack()[-1]
            try:
                yield counts
            finally:
                self._root = None
                self._join = None

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                fh.write(json.dumps(rec) + "\n")


def _union_length(intervals) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: List[dict]) -> Dict[int, float]:
    """Span id -> duration minus the part its children cover."""
    children: Dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - _union_length(
            (max(a, s["start"]), min(b, s["end"])) for a, b in children.get(s["id"], [])
        )
        for s in spans
    }


def join_breakdown(spans: List[dict]) -> List[dict]:
    """Per traced join: self time per layer metric, summed counts, the
    root's unaccounted self time and the overlap of concurrent layers."""
    own = self_times(spans)
    joins = []
    for root in (s for s in spans if s["name"] == "join"):
        members = [s for s in spans if s["join"] == root["join"] and s is not root]
        row = {m: 0.0 for m in LAYER_METRICS.values()}
        counts: Dict[str, int] = {}
        for s in members:
            row[LAYER_METRICS[s["name"]]] += own[s["id"]]
            for k, v in s["counts"].items():
                counts[k] = counts.get(k, 0) + v
        top = [(s["start"], s["end"]) for s in members if s["parent"] == root["id"]]
        row["trace.join_s"] = root["end"] - root["start"]
        row["trace.unaccounted_s"] = own[root["id"]]
        row["trace.overlap_s"] = sum(b - a for a, b in top) - _union_length(top)
        row["counts"] = counts
        joins.append(row)
    return joins


def install(tracer: Tracer, matcher_mod) -> callable:
    """Wrap the layer calls in ``matcher_mod``; returns an undo function."""
    originals = {}

    def wrap(attr: str, span_name: str, after=None, materialize: bool = True):
        fn = getattr(matcher_mod, attr)
        originals[attr] = fn

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(span_name) as counts:
                out = fn(*args, **kwargs)
                if materialize:
                    out = out.localCheckpoint(eager=True)
            if after is not None:
                with tracer.span("trace.bookkeeping"):
                    after(counts, out, *args, **kwargs)
            return out

        setattr(matcher_mod, attr, traced)

    def key_counts(counts, out, df, *_a, **_k):
        counts["key_rows"] = df.count()
        counts["keys"] = out.count()

    def candidate_counts(counts, out, *_a, **_k):
        counts["candidate_pairs"] = out.count()
        if "probe" not in tracer.captured:
            lc = [c for c in out.columns if c.startswith("__lc_")]
            tracer.captured["probe"] = out.select(
                F.col(lc[0]).alias("a"), F.col(lc[1]).alias("b")
            )

    def ann_counts(counts, out, left_keys, right_keys, left_col, right_col, *args, **kwargs):
        counts["ann_survivors"] = out.count()
        if "probe" not in tracer.captured:
            tracer.captured["probe"] = out.select(
                F.lower(left_col).alias("a"), F.lower(right_col).alias("b")
            )
            tracer.captured["ann_call"] = (
                (left_keys, right_keys, left_col, right_col) + args, kwargs,
            )

    def refine_counts(counts, out, left, right, existing, mapping, *_a, **_k):
        counts["refine_pairs_in"] = existing.count()
        counts["refine_pairs_out"] = out.count()
        if mapping.threshold_score < 100 and "probe" not in tracer.captured:
            li, ri = matcher_mod.LEFT_INDEX, matcher_mod.RIGHT_INDEX
            tracer.captured["probe"] = (
                existing.select(li, ri)
                .join(left.select(li, F.lower(mapping.left_col).alias("a")), on=li)
                .join(right.select(ri, F.lower(mapping.right_col).alias("b")), on=ri)
                .select("a", "b")
            )

    wrap("get_count_uniqueness_and_maxlen", "planner.stats", materialize=False)
    wrap("add_index_column", "matcher.index", materialize=False)
    wrap("build_key_frame", "matcher.key_frames", key_counts)
    wrap("first_round_matches", "matcher.first_round")
    wrap("exact_candidates", "candidates.exact", candidate_counts)
    wrap("score_and_explode", "matcher.score")
    wrap("approx_scored_pairs", "candidates.ann", ann_counts)
    wrap("attach_index_lists", "candidates.attach")
    wrap("refine_matches", "matcher.refine", refine_counts)

    def undo() -> None:
        for attr, fn in originals.items():
            setattr(matcher_mod, attr, fn)

    return undo


class JobCounter:
    """Spark jobs / stages / tasks started between two marks, read from
    the status tracker (the engine's helper threads set no job group,
    so jobs are found as new ids without a group)."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()

    def mark(self) -> set:
        return set(self.tracker.getJobIdsForGroup(None))

    def since(self, before: set) -> Dict[str, int]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = set(self.tracker.getJobIdsForGroup(None)) - before
        stages, tasks = 0, 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"spark_jobs": len(jobs), "spark_stages": stages, "spark_tasks": tasks}


def median_of(rows: List[dict], key: str) -> float:
    return median(r[key] for r in rows) if rows else 0.0
