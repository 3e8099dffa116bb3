"""Spans and counts recorded from outside the engine.

The benchmark never edits the package: it wraps the package's public
functions and methods (module attributes and class methods) with timers.
A span records name, start, end, parent span and epoch id; counts are
recorded on the span at the same boundary. Spans stay in memory and are
written out once, when the run ends.

One ``Tracer`` runs in every run. Its span timings also define the
end-to-end metrics: an epoch's data is visible when its ``merge_lww`` /
``merge_sets`` span ends, and the mirror has it when a ``mirror.sync`` span
ends with the cursor at that epoch's chunks snapshot. Counts that cost
nothing (rows applied, snapshot ids, the mirror cursor) are always taken.
Counts that list files or run a Spark job are taken only with
``--trace 1``, after the span closes, so their work is not charged to the
layer.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = 0

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, epoch=None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            self._ids += 1
            sid = self._ids
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "epoch": epoch if epoch is not None else (parent["epoch"] if parent else None),
            "thread": threading.current_thread().name,
            "start": time.monotonic(),
            "end": None,
            "counts": {},
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def clear(self) -> None:
        """Forget the spans so far (set-up work) once no span is open."""
        with self._lock:
            self.spans.clear()

    def named(self, prefix: str) -> list[dict]:
        with self._lock:
            spans = list(self.spans)
        return [s for s in spans if s["name"].startswith(prefix)]

    def by_epoch(self, prefix: str) -> dict:
        """epoch id -> the span of that name in the epoch (one per epoch)."""
        return {s["epoch"]: s for s in self.named(prefix) if s["epoch"] is not None}

    def total(self, prefix: str, epochs=None) -> float:
        return sum(s["end"] - s["start"] for s in self.named(prefix)
                   if epochs is None or s["epoch"] in epochs)

    def count(self, prefix: str, key: str, epochs=None) -> float:
        return sum(s["counts"].get(key, 0) for s in self.named(prefix)
                   if epochs is None or s["epoch"] in epochs)

    def self_time(self, span: dict) -> float:
        """Duration minus the part of the interval its children cover."""
        kids = sorted(
            (s["start"], s["end"]) for s in self.spans if s["parent"] == span["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            s, e = max(s, span["start"]), min(e, span["end"])
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def write(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **(extra or {})}, f)


def wrap(owner, attr: str, fn_factory):
    """Replace ``owner.attr`` with ``fn_factory(original)``."""
    setattr(owner, attr, fn_factory(getattr(owner, attr)))


# ---------------------------------------------------------------------------
# Layer spans
# ---------------------------------------------------------------------------


def _table(self) -> str:
    return os.path.basename(self.path.rstrip("/"))


def _files(table) -> dict[str, int]:
    out = {}
    for fs in table.bucket_files().values():
        for f in fs:
            if os.path.exists(f):
                out[f] = os.path.getsize(f)
    return out


def _n_files(table) -> int:
    return sum(len(v) for v in table.bucket_files().values())


class _TimedCollect:
    """Stands in for the lineage DataFrame so its one ``collect()`` (the
    per-partition lineage job the driver runs) gets its own span."""

    def __init__(self, df, tracer: Tracer):
        self._df, self._tracer = df, tracer

    def collect(self):
        with self._tracer.span("lineage.partition_job") as s:
            rows = self._df.collect()
        s["counts"]["partitions"] = len(rows)
        return rows


def install_spans(tracer: Tracer, counts: bool) -> None:
    """Wrap every layer boundary the benchmark reports, at class level, so
    every table and pipeline instance is traced. ``counts``: also take the
    counts that list table files or run a Spark job (``--trace 1``)."""
    from changedatacapture_spark.functions.vector_index import IncrementalVectorIndex
    from changedatacapture_spark.operators import envelope
    from changedatacapture_spark.sinks import lake
    from changedatacapture_spark.sinks.lineage import LineageLog
    from changedatacapture_spark.streaming import driver, mirror

    def spanned(name_of, after=None, before=None, epoch_of=None):
        def factory(orig):
            def inner(*a, **kw):
                pre = before(*a, **kw) if before else None
                ep = epoch_of(*a, **kw) if epoch_of else None
                with tracer.span(name_of(*a, **kw), epoch=ep) as rec:
                    out = orig(*a, **kw)
                if after:
                    after(rec, out, pre, *a, **kw)
                return out

            return inner

        return factory

    def costly(hook):
        return hook if counts else None

    def fixed(name):
        return lambda *a, **kw: name

    def apply_epoch(self, batch_df, epoch_id):
        return epoch_id

    wrap(driver.CdcPipeline, "apply_batch",
         spanned(fixed("driver.apply_batch"), epoch_of=apply_epoch))
    wrap(envelope, "parse_envelope", spanned(fixed("envelope.parse.plan")))

    def lineage_factory(orig):
        def inner(parsed, epoch_id):
            with tracer.span("lineage.partition.plan"):
                df = orig(parsed, epoch_id)
            return _TimedCollect(df, tracer)

        return inner

    wrap(driver, "partition_lineage", lineage_factory)

    def after_probe_batch(rec, out, pre, self, deltas, *a, **kw):
        rec["counts"]["winners_out"] = sum(out[2].values())

    wrap(lake.LakeTable, "probe_batch",
         spanned(lambda self, *a, **kw: f"lww.winners[{_table(self)}]", after_probe_batch))

    def after_key_probe(rec, probe, pre, *a, **kw):
        rec["counts"]["files_examined"] = sum(s["candidates"] for s in probe.stats.values())
        rec["counts"]["files_pruned"] = sum(s["pruned"] for s in probe.stats.values())

    wrap(driver, "build_key_probe", spanned(fixed("probe.key_probe"), after_key_probe))
    wrap(lake.LakeTable, "read_bucket_winners",
         spanned(lambda self, *a, **kw: f"probe.plan[{_table(self)}]"))

    def after_commit(rec, snap, pre, self, *a, **kw):
        if snap is None:
            return
        rec["counts"]["snapshot_id"] = int(snap["snapshot_id"])
        if pre is not None:
            new = {f: n for f, n in _files(self).items() if f not in pre}
            rec["counts"]["files_written"] = len(new)
            rec["counts"]["bytes_written"] = sum(new.values())

    for meth in ("merge_lww", "merge_sets"):
        wrap(lake.LakeTable, meth, spanned(
            lambda self, *a, _m=meth, **kw: f"lake.{_m}[{_table(self)}]",
            after_commit, costly(lambda self, *a, **kw: _files(self))))

    def after_record(rec, out, pre, self, rows, epoch_id, **kw):
        rec["counts"]["rows_in"] = int(kw.get("rows_applied") or 0)
        rec["counts"]["partitions"] = len(rows)

    wrap(LineageLog, "record_rows", spanned(fixed("lineage.record_rows"), after_record))

    def after_read_keys(rec, out, pre, self, spark, keys, *a, **kw):
        rec["counts"]["files_probed"] = len(self.files_for_keys(spark, keys))
        rec["counts"]["files_total"] = _n_files(self)

    wrap(lake.LakeTable, "read_keys", spanned(
        lambda self, *a, **kw: f"lake.read_keys[{_table(self)}]", costly(after_read_keys)))

    def after_compact(rec, out, pre, self, *a, **kw):
        rec["counts"]["files_in"] = pre
        rec["counts"]["files_out"] = _n_files(self)

    wrap(lake.LakeTable, "compact", spanned(
        lambda self, *a, **kw: f"lake.compact[{_table(self)}]",
        costly(after_compact), costly(lambda self, *a, **kw: _n_files(self))))

    wrap(lake.LakeTable, "read_changes", spanned(
        lambda self, *a, **kw: f"feed.plan[{_table(self)}]"))
    wrap(IncrementalVectorIndex, "upsert", spanned(fixed("mirror.apply")))

    def before_sync(self, spark):
        cur = self.source.current_snapshot()
        return (int(cur["snapshot_id"]) if cur else 0) - self.cursor

    def after_sync(rec, status, lag, self, spark):
        rec["counts"]["applied"] = int(status == "applied")
        rec["counts"]["noop"] = int(status == "noop")
        rec["counts"]["cursor"] = self.cursor
        if lag is not None:
            rec["counts"]["lag_snapshots"] = lag

    wrap(mirror.VectorFeedMirror, "sync",
         spanned(fixed("mirror.sync"), after_sync, costly(before_sync)))


class StreamListener:
    """Spark's per-trigger progress durations (public listener API)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        rows = self.progress = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                rows.append({"batch": p.batchId, "rows": p.numInputRows,
                             "durationMs": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _L()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def stop(self) -> None:
        self._spark.streams.removeListener(self._listener)

    def total_s(self, key: str, batches=None) -> float:
        return sum(
            r["durationMs"].get(key, 0)
            for r in self.progress
            if batches is None or r["batch"] in batches
        ) / 1000.0


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc."""

    def __init__(self, period: float = 0.5):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, args=(period,), daemon=True)
        self._t.start()

    @staticmethod
    def _tree_rss_mb() -> float:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    parts = f.read().rsplit(")", 1)[1].split()
                ppid, pages = int(parts[1]), int(parts[21])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
            rss[int(d)] = pages
        total, todo = 0, [os.getpid()]
        while todo:
            p = todo.pop()
            total += rss.get(p, 0)
            todo.extend(children.get(p, []))
        return total * os.sysconf("SC_PAGE_SIZE") / 1e6

    def _run(self, period: float) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self._tree_rss_mb())
            self._stop.wait(period)

    def stop(self) -> float:
        self._stop.set()
        self._t.join()
        return self.peak_mb


def isolate_transforms(spark, winners) -> dict[str, float]:
    """Time each transform UDF alone on one epoch's winners, writing to the
    noop sink; an identity pandas UDF over the same column gives the Arrow
    round-trip cost, so UDF body time = call time - round-trip time."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from changedatacapture_spark.functions import transform

    def _identity(s):
        return s

    identity_bin = pandas_udf(_identity, "binary")
    src = winners.where(F.col("html").isNotNull()).select("url", "html").persist()
    texts = None
    chunks = None
    out: dict[str, float] = {}

    def run(name, df, rows_in, bytes_in):
        t0 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        out[f"transform.{name}.s"] = time.monotonic() - t0
        out[f"transform.{name}.rows_in"] = rows_in
        out[f"transform.{name}.bytes_in"] = bytes_in

    try:
        n_src, b_src = src.agg(F.count("*"), F.coalesce(F.sum(F.length("html")), F.lit(0))).first()
        # warm each UDF's worker path once so the timed call is steady state
        src.limit(10).select(transform.extract_text_udf("html")).collect()
        src.limit(10).select(identity_bin("html")).collect()
        texts = src.select("url", transform.extract_text_udf("html").alias("text")).persist()
        run("extract_text", texts, n_src, b_src)
        run("arrow_roundtrip", src.select(identity_bin("html")), n_src, b_src)
        out["transform.arrow_roundtrip.rows_out"] = n_src
        n_txt, b_txt = texts.agg(F.count("*"), F.coalesce(F.sum(F.length("text")), F.lit(0))).first()
        out["transform.extract_text.rows_out"] = n_txt
        chunked = transform.chunk_pages(texts)
        chunked.limit(10).collect()
        chunks = chunked.select("content").persist()
        run("chunk", chunks, n_txt, b_txt)
        n_ch, b_ch = chunks.agg(F.count("*"), F.coalesce(F.sum(F.length("content")), F.lit(0))).first()
        out["transform.chunk.rows_out"] = n_ch
        chunks.limit(10).select(transform.embed_sim_udf("content")).collect()
        run("embed", chunks.select(transform.embed_sim_udf("content")), n_ch, b_ch)
        out["transform.embed.rows_out"] = n_ch
    finally:
        src.unpersist()
        if texts is not None:
            texts.unpersist()
        if chunks is not None:
            chunks.unpersist()
    return out
