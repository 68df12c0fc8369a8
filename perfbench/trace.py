"""In-memory span recorder installed around the engine's public calls.

Spans are ``[name, start, end, parent, op, count]`` lists kept in memory and
written out as JSON lines when the run ends. Wrappers are installed
from here only, onto module and class attributes of the package, and
removed again afterwards; nothing inside the program records spans.
Recording a span costs two ``perf_counter`` calls and a list append.
"""

from __future__ import annotations

import contextlib
import json
import time

from hadoop_search_engine_spark import session
from hadoop_search_engine_spark.functions import codec
from hadoop_search_engine_spark.operators import index_build, index_maint
from hadoop_search_engine_spark.operators import query_exec

# (owner, attribute, span name). Index.load is a classmethod and is
# wrapped through its underlying function.
_TARGETS = [
    (session, "get_spark", "session.get_spark"),
    (index_build, "build_index", "index_build.build_index"),
    (query_exec.Index, "load", "query_exec.load"),
    (query_exec.Index, "dl_array", "query_exec.dl_array"),
    (query_exec.Index, "lexicon_map", "query_exec.lexicon_map"),
    (query_exec.Index, "warm", "query_exec.warm"),
    (query_exec.Index, "postings_rows_by_term", "query_exec.postings_fetch"),
    (query_exec, "parse_query", "query_exec.parse"),
    (query_exec, "search_topk_rows", "query_exec.search_topk_rows"),
    (query_exec, "search_topk", "query_exec.search_topk"),
    (codec, "decode_blocks", "codec.decode"),
    (codec, "decode_doc_ids", "codec.decode"),
    (codec, "decode_tfs", "codec.decode"),
    (codec, "decode_positions", "codec.decode"),
    (index_maint, "merge_indexes", "index_maint.merge_indexes"),
    (index_maint, "delete_docs", "index_maint.delete_docs"),
]


class Recorder:
    """Span store plus the wrappers that feed it. ``op`` is the id of
    the benchmark operation (query number, phase name) that new spans
    belong to."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self.op = None
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = [name, 0.0, 0.0, self._stack[-1] if self._stack else -1,
               self.op, 0]
        self.spans.append(rec)
        self._stack.append(sid)
        rec[1] = time.perf_counter()
        try:
            yield rec
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def _wrap(self, fn, name: str):
        rec = self

        def wrapped(*args, **kwargs):
            with rec.span(name) as sp:
                out = fn(*args, **kwargs)
                if name == "codec.decode":  # values decoded
                    sp[5] = len(out[0] if isinstance(out, tuple) else out)
                return out

        wrapped.__wrapped__ = fn
        return wrapped

    def install(self) -> None:
        for owner, attr, name in _TARGETS:
            orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            if isinstance(orig, classmethod):
                setattr(owner, attr, classmethod(self._wrap(orig.__func__, name)))
            else:
                setattr(owner, attr, self._wrap(orig, name))
        # pyarrow's Dataset is an extension type whose methods cannot be
        # replaced, so the dataset the Index hands its postings reader
        # is wrapped in a proxy that records every to_table scan.
        Index = query_exec.Index
        orig = Index.__dict__["_postings_dataset"]
        self._saved.append((Index, "_postings_dataset", orig))
        rec = self

        def postings_dataset(index):
            return _DatasetProxy(orig(index), rec)

        Index._postings_dataset = postings_dataset

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, (name, t0, t1, parent, op, n) in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": name, "start": t0,
                                    "end": t1, "parent": parent,
                                    "op": op, "count": n}) + "\n")


class _DatasetProxy:
    def __init__(self, ds, rec: Recorder) -> None:
        self._ds = ds
        self._rec = rec

    def to_table(self, *args, **kwargs):
        with self._rec.span("pyarrow.to_table"):
            return self._ds.to_table(*args, **kwargs)

    def __getattr__(self, name):
        return getattr(self._ds, name)


def self_times(spans: list[list]) -> list[float]:
    """Per span: duration minus the part of it its children cover.
    Children of one parent run on one thread, so they never overlap
    and their durations add up."""
    covered = [0.0] * len(spans)
    for s in spans:
        if s[3] >= 0:
            covered[s[3]] += s[2] - s[1]
    return [s[2] - s[1] - c for s, c in zip(spans, covered)]
