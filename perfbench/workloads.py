"""The two workloads. Each takes a ``Ctx`` and returns (end-to-end metrics,
per-layer metrics, details); the checks it records decide ``correct``.

bulk_replay (closed loop, one client): the pages-only pipeline replays a
change log's first epoch (set-up), then catches up on the rest in a few
``availableNow`` epochs; then single-url ``read_keys`` lookups run one after
another on the multi-delta lake.

live_tail (open loop, fixed schedule): bootstrap a lake from the first part
of a log through ``run_stream(availableNow)`` under the checkpoint the tail
then uses, ``VectorFeedMirror.resync`` it, then release the rest of the log as
small segment files evenly over half a trigger interval while
``run_stream(available_now=False)`` ingests them (pages, chunks, 384-dim
``embed_sim_udf``) and one consumer thread calls ``VectorFeedMirror.sync`` in
a loop.
"""

from __future__ import annotations

import os
import random
import shutil
import threading
import time
from dataclasses import dataclass, field

from common import (
    Checks,
    check_pages_state,
    check_transform_sample,
    checkpoint_file_batches,
    copy_release,
    dir_bytes,
    generate_log,
    pin_inputs,
    lww_fold,
    pct,
    segment_files,
    segment_rows,
)
from spans import StreamListener, Tracer, isolate_transforms

N_BUCKETS = 4
TRIGGER_S = 5  # run_stream(available_now=False) uses a 5-second processing-time trigger
TAIL_READS = 20  # the median of the point reads then has >= 10 samples beyond it
BULK_READS = 10  # what the run budget leaves for the closed-loop lookups
# an untimed lookup first on bulk_replay: the read path's codegen and JIT
# warm-up, which a long-running reader pays once (timed, the first lookups
# ran 30% slower than the last)
WARM_READS = 1

SIZES = {
    # events per measured second (one url per ten events), log segments,
    # epochs (the first is set-up, the others the measured catch-up)
    "bulk_replay": {
        "full": dict(events_per_second=8_000, n_segments=8, epochs=4),
        "tiny": dict(events_per_second=300, n_segments=8, epochs=4),
    },
    # bootstrap events, then tail segments of seg_events each, released
    # evenly over half a trigger interval
    "live_tail": {
        "full": dict(n_urls=2_000, boot_events=1_500, tail_segments=204, seg_events=3),
        "tiny": dict(n_urls=200, boot_events=400, tail_segments=20, seg_events=2),
    },
}


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    seconds: int
    trace: bool
    size: str
    run_dir: str
    session_s: float
    checks: Checks = field(default_factory=Checks)
    attempted: int = 0
    failed: int = 0
    phase_s: dict = field(default_factory=dict)


def _pipeline(path: str, full_product: bool):
    from changedatacapture_spark.functions import transform
    from changedatacapture_spark.streaming.driver import CdcPipeline

    if not full_product:
        return CdcPipeline(path, n_buckets=N_BUCKETS, with_chunks=False)
    # bench.py's full-product options: the generator replaces whole bodies,
    # so chunk-level embedding reuse can never match and stays off
    return CdcPipeline(path, n_buckets=N_BUCKETS, with_chunks=True, with_embeddings=True,
                       embed_fn=transform.embed_sim_udf, reuse_embeddings=False)


def _phases(ctx: Ctx):
    """Wall time of each phase of the run, kept in the details line."""
    walls = ctx.phase_s
    last = [time.monotonic()]

    def mark(name: str) -> None:
        now = time.monotonic()
        walls[name] = walls.get(name, 0.0) + now - last[0]
        last[0] = now

    return mark


def _freshness(samples: list[float]) -> dict:
    return {"p50": pct(samples, 50), "p95": pct(samples, 95), "n": len(samples)}


def _applied(tracer: Tracer, epochs=None) -> int:
    return int(tracer.count("lineage.record_rows", "rows_in", epochs))


def _visible(tracer: Tracer, table_span: str) -> dict[int, float]:
    """epoch -> when its commit to the table returned (its data is visible)."""
    return {e: s["end"] for e, s in tracer.by_epoch(table_span).items()}


def _states(base: dict, files, batch_of: dict, commits: dict) -> list:
    """The pages states a reader may see: ``base`` (url -> winning pos before
    the first commit), then after each epoch's commit the LWW fold of every
    file up to that epoch. Each state carries its commit's (start, end)."""
    states = [(float("-inf"), float("-inf"), base)]
    for e in sorted(commits):
        upto = [f for f in files if batch_of.get(os.path.basename(f), e + 1) <= e]
        fold = {u: p for u, (p, _h) in lww_fold(upto).items()}
        states.append((commits[e]["start"], commits[e]["end"], fold))
    return states


class PointReader:
    """Sequential single-url ``read_keys`` lookups (closed loop, one client).
    Timed: the lookup and its collect; every lookup, warm-up ones too, is
    checked afterwards against the fold."""

    def __init__(self, ctx: Ctx, pages, n_urls: int):
        self.ctx, self.pages, self.n_urls = ctx, pages, n_urls
        self.rng = random.Random(ctx.seed + 7)
        self.lat: list[float] = []
        self.got: list[tuple[float, float, str, list[int]]] = []

    def _url(self) -> str:
        i = self.rng.randrange(self.n_urls)
        return f"https://site-{i % 50}.example.com/page/{i:06d}"

    def _lookup(self, u: str) -> list[int]:
        df = self.pages.read_keys(self.ctx.spark, [u])  # None: no file can hold it
        return [] if df is None else [int(r["pos"]) for r in df.select("pos").collect()]

    def one(self, timed: bool = True) -> None:
        u = self._url()
        self.ctx.attempted += 1
        t0 = time.monotonic()
        try:
            found = self._lookup(u)
        except Exception:  # noqa: BLE001 - a failed read counts, it does not abort
            self.ctx.failed += 1
            return
        t1 = time.monotonic()
        if timed:
            self.lat.append((t1 - t0) * 1000.0)
        self.got.append((t0, t1, u, sorted(found)))

    def finish(self, n: int, states: list) -> dict:
        """Run the remaining lookups, then check each one: it must return the
        url's state (its winning pos, or no row for a dead or unknown url) at
        some commit that overlaps the lookup. ``states`` as from ``_states``."""
        while len(self.lat) < n:
            self.one()

        def valid(t0, t1, u, ps) -> bool:
            for k, (start, _end, state) in enumerate(states):
                if start >= t1:  # committed after the lookup returned
                    break
                if k + 1 < len(states) and states[k + 1][1] <= t0:
                    continue  # replaced before the lookup began
                if ps == ([state[u]] if u in state else []):
                    return True
            return False

        bad = sum(1 for r in self.got if not valid(*r))
        self.ctx.checks.add("point_reads_valid", bad == 0, {
            "reads": len(self.got), "invalid": bad,
            "hits": sum(1 for r in self.got if r[3])})
        return {"p50": pct(self.lat, 50), "n": len(self.lat), "ms": self.lat,
                "timed_from": self.got[-len(self.lat)][0] if self.lat else 0.0}


def _trace_layers(tracer: Tracer, listener, epochs, stream_wall_s: float,
                  storage_live: int, reads_from: float, extra: dict, details: dict) -> dict:
    """Per-layer metrics from the spans of the measured epochs."""
    m: dict[str, float] = {}
    ep = set(epochs)
    applies = [s for s in tracer.named("driver.apply_batch") if s["epoch"] in ep]
    coverage = []
    for s in applies:
        dur = s["end"] - s["start"]
        coverage.append(1.0 - tracer.self_time(s) / dur if dur > 0 else 0.0)
    details["span_coverage_per_epoch"] = dict(zip((s["epoch"] for s in applies), coverage))
    m["driver.apply_batch.s"] = sum(s["end"] - s["start"] for s in applies)
    m["driver.apply_batch.self_s"] = sum(tracer.self_time(s) for s in applies)
    m["driver.epochs"] = len(applies)
    m["driver.span_coverage"] = pct(coverage, 50) if coverage else 0.0
    rows_in = _applied(tracer, ep)
    m["driver.rows_in"] = rows_in
    m["stream.add_batch_s"] = listener.total_s("addBatch", ep)
    m["stream.planning_s"] = listener.total_s("queryPlanning", ep)
    m["stream.latest_offset_s"] = listener.total_s("latestOffset", ep)
    m["stream.wal_commit_s"] = listener.total_s("walCommit", ep)
    m["stream.idle_s"] = max(0.0, stream_wall_s - listener.total_s("triggerExecution", ep))
    m["lww.winners_s"] = tracer.total("lww.winners[pages]", ep)
    m["lww.events_in"] = rows_in
    winners = tracer.count("lww.winners[pages]", "winners_out", ep)
    m["lww.winners_out"] = winners
    m["lww.reduction"] = winners / rows_in if rows_in else 0.0
    m["envelope.parse.plan_s"] = tracer.total("envelope.parse.plan", ep)
    m["probe.s"] = tracer.total("probe.key_probe", ep)
    ex = tracer.count("probe.key_probe", "files_examined", ep)
    pr = tracer.count("probe.key_probe", "files_pruned", ep)
    m["probe.files_examined"] = ex
    m["probe.files_pruned"] = pr
    m["probe.pruned_ratio"] = pr / ex if ex else 0.0
    m["probe.plan_s"] = tracer.total("probe.plan", ep)
    m["lake.merge_lww.s"] = tracer.total("lake.merge_lww[pages]", ep)
    m["lake.merge_sets.s"] = tracer.total("lake.merge_sets[chunks]", ep)
    commits = ("lake.merge_lww[pages]", "lake.merge_sets[chunks]")
    written = sum(tracer.count(c, "bytes_written", ep) for c in commits)
    m["lake.commit.files_written"] = sum(tracer.count(c, "files_written", ep) for c in commits)
    m["lake.commit.bytes_written"] = written
    m["lake.write_amplification"] = written / storage_live if storage_live else 0.0
    m["lineage.partition_job.s"] = tracer.total("lineage.partition_job", ep)
    m["lineage.record_rows.s"] = tracer.total("lineage.record_rows", ep)
    m["lineage.partitions"] = tracer.count("lineage.record_rows", "partitions", ep)
    reads = [s for s in tracer.named("lake.read_keys[pages]") if s["start"] >= reads_from]
    m["lake.read_keys.s"] = sum(s["end"] - s["start"] for s in reads)
    m["lake.read_keys.files_probed"] = (
        sum(s["counts"]["files_probed"] for s in reads) / len(reads) if reads else 0.0)
    m["lake.read_keys.files_total"] = (
        sum(s["counts"]["files_total"] for s in reads) / len(reads) if reads else 0.0)
    m["lake.compact.s"] = tracer.total("lake.compact")
    m["lake.compact.files_in"] = tracer.count("lake.compact", "files_in")
    m["lake.compact.files_out"] = tracer.count("lake.compact", "files_out")
    syncs = tracer.named("mirror.sync")
    # the feed and index spans of the consumer's syncs (not of the checks)
    in_sync = {s["id"] for s in syncs}
    m["feed.plan_s"] = sum(s["end"] - s["start"] for s in tracer.named("feed.plan")
                           if s["parent"] in in_sync)
    m["mirror.apply_s"] = sum(s["end"] - s["start"] for s in tracer.named("mirror.apply")
                              if s["parent"] in in_sync)
    m["mirror.sync.s"] = sum(s["end"] - s["start"] for s in syncs)
    m["mirror.sync.calls"] = len(syncs)
    m["mirror.sync.applied_ratio"] = (
        sum(s["counts"]["applied"] for s in syncs) / len(syncs) if syncs else 0.0)
    worked = [s for s in syncs if s["counts"]["applied"]]
    m["mirror.lag_snapshots"] = (
        sum(s["counts"]["lag_snapshots"] for s in worked) / len(worked) if worked else 0.0)
    m.update(extra)
    return m


def _layer_extras(ctx: Ctx, epoch_files) -> dict:
    """Isolated transform calls on one epoch's own input (its LWW winners)."""
    from changedatacapture_spark.operators import apply as apply_ops
    from changedatacapture_spark.operators import envelope

    batch = ctx.spark.read.schema(envelope.ENVELOPE_SCHEMA).parquet(*epoch_files)
    winners = apply_ops.upsert_deltas(envelope.parse_envelope(batch))
    return isolate_transforms(ctx.spark, winners)


# ---------------------------------------------------------------------------
# bulk_replay
# ---------------------------------------------------------------------------


def bulk_replay(ctx: Ctx):
    spark, tracer = ctx.spark, ctx.tracer
    size = SIZES["bulk_replay"][ctx.size]
    n_events = size["events_per_second"] * ctx.seconds
    n_urls = n_events // 10
    layout = [n_events // size["n_segments"]] * size["n_segments"]
    params = dict(n_events=sum(layout), n_urls=n_urls, pool_size=256, hot_frac=0.05)
    mark = _phases(ctx)
    log = generate_log(spark, os.path.join(ctx.run_dir, "log"), ctx.seed, params, layout)
    files = segment_files(log)
    digest = pin_inputs(ctx.checks, "bulk_replay", ctx.seed, dict(params, layout=layout), files)
    mark("generate")
    details = {"input_digest": digest, "segments": len(files),
               "events": sum(segment_rows(files))}

    # set-up: the lake's first epoch is replayed on its own. It pays JIT,
    # codegen, Python-worker start and the new lake's first-touch costs, so
    # the measured epochs run warm (without it the first measured epochs
    # are still warming, and the replay takes as long as both together)
    per_trigger = max(1, len(files) // size["epochs"])
    src = os.path.join(ctx.run_dir, "src")
    ckpt = os.path.join(ctx.run_dir, "ckpt")
    lake = os.path.join(ctx.run_dir, "lake")
    os.makedirs(src)
    for f in files[:per_trigger]:
        copy_release(f, src, os.path.basename(f))
    pipe = _pipeline(lake, False)
    t0 = time.monotonic()
    pipe.run_stream(spark, src, ckpt, timeout_sec=170)
    setup_s = ctx.session_s + time.monotonic() - t0
    mark("setup")
    boot_applied = _applied(tracer)

    # the catch-up: every other segment is available when the replay starts
    tracer.clear()
    listener = StreamListener(spark) if ctx.trace else None
    catch_up = files[per_trigger:]
    for f in catch_up:
        copy_release(f, src, os.path.basename(f))
    t0 = time.monotonic()
    pipe.run_stream(spark, src, ckpt, max_files_per_trigger=per_trigger, timeout_sec=170)
    replay_wall = time.monotonic() - t0
    mark("replay")
    applies = tracer.by_epoch("driver.apply_batch")
    epochs = sorted(applies)
    ctx.attempted += size["epochs"] - 1
    ctx.failed += max(0, size["epochs"] - 1 - len(epochs))
    rows = {e: int(s["counts"]["rows_in"]) for e, s in tracer.by_epoch("lineage.record_rows").items()}
    # each epoch's rate is its rows over the time since the previous epoch
    # ended, or since the replay started (trigger, planning and commit
    # included); the median of these rates ignores a stall that hits one
    ends = [t0] + [applies[e]["end"] for e in epochs]
    rates = [rows.get(e, 0) / (ends[i + 1] - ends[i]) for i, e in enumerate(epochs)]
    events_per_s = pct(rates or [0.0], 50)

    # catch-up freshness: one sample per event, from the replay's start to
    # the return of the merge_lww of the epoch that holds it
    pages_visible = _visible(tracer, "lake.merge_lww[pages]")
    batch_of = checkpoint_file_batches(ckpt)
    fresh = []
    for f, n in zip(catch_up, segment_rows(catch_up)):
        fresh += [pages_visible[batch_of[os.path.basename(f)]] - t0] * n
    fresh_stats = _freshness(fresh)

    fold = lww_fold(files)
    mark("fold")
    # the replay is complete: every lookup must see the fold's final state
    final = [(float("-inf"), float("-inf"), {u: p for u, (p, _h) in fold.items()})]
    reader = PointReader(ctx, pipe.pages, n_urls)
    for _ in range(WARM_READS):
        reader.one(timed=False)
    reads = reader.finish(BULK_READS, final)
    mark("point_reads")
    storage = dir_bytes(lake)

    check_pages_state(ctx.checks, spark, pipe, fold)
    check_transform_sample(ctx.checks, spark, pipe, fold, ctx.seed, with_chunks=False)
    mark("checks")
    applied = boot_applied + _applied(tracer)
    ctx.checks.add("applied_equals_log", applied == details["events"],
                   {"applied": applied, "log": details["events"]})

    e2e = {
        "setup_s": setup_s,
        "events_per_s": events_per_s,
        "freshness_pages_p50_s": fresh_stats["p50"],
        "freshness_pages_p95_s": fresh_stats["p95"],
        "freshness_visible_p50_s": fresh_stats["p50"],
        "freshness_visible_p95_s": fresh_stats["p95"],
        "point_read_p50_ms": reads["p50"],
        "storage_mb": storage / 1e6,
    }
    details.update(replay_wall_s=replay_wall, epochs=len(epochs), epoch_rows=rows,
                   epoch_rates=rates, freshness_samples=fresh_stats["n"],
                   point_reads=reads["n"], point_read_ms=reads["ms"])
    layers = None
    if ctx.trace:
        live = sum(os.path.getsize(f) for fs in pipe.pages.bucket_files().values() for f in fs)
        pipe.pages.compact(spark)
        extra = _layer_extras(ctx, catch_up[:per_trigger])
        extra["stage.chunks.freshness_p50_s"] = 0.0
        extra["stage.chunks.freshness_p95_s"] = 0.0
        extra["mirror.rows"] = 0
        layers = _trace_layers(tracer, listener, epochs, replay_wall, live,
                               reads["timed_from"], extra, details)
        listener.stop()
        tracer.write(os.path.join(ctx.run_dir, "..", "traces",
                                  f"bulk_replay-{ctx.seed}.json"), {"details": details})
    return e2e, layers, details


# ---------------------------------------------------------------------------
# live_tail
# ---------------------------------------------------------------------------


def live_tail(ctx: Ctx):
    from changedatacapture_spark.streaming.mirror import VectorFeedMirror

    spark, tracer = ctx.spark, ctx.tracer
    size = SIZES["live_tail"][ctx.size]
    # two bootstrap files, then one small segment per release slot
    layout = [size["boot_events"] // 2] * 2 + [size["seg_events"]] * size["tail_segments"]
    params = dict(n_events=sum(layout), n_urls=size["n_urls"],
                  pool_size=256, hot_frac=0.05, noop_frac=0.8)
    mark = _phases(ctx)
    log = generate_log(spark, os.path.join(ctx.run_dir, "log"), ctx.seed, params, layout)
    files = segment_files(log)
    digest = pin_inputs(ctx.checks, "live_tail", ctx.seed, dict(params, layout=layout), files)
    mark("generate")
    boot, tail = files[:2], files[2:]
    tail_rows = layout[2:]
    details = {"input_digest": digest, "segments": len(files),
               "boot_events": sum(layout[:2]), "tail_events": sum(tail_rows)}
    fold = lww_fold(files)
    boot_state = {u: p for u, (p, _h) in lww_fold(boot).items()}

    src = os.path.join(ctx.run_dir, "src")
    ckpt = os.path.join(ctx.run_dir, "ckpt")
    os.makedirs(src)
    names = [os.path.basename(f) for f in files]

    for f, n in zip(boot, names):
        copy_release(f, src, n)

    # set-up: bootstrap through the SAME checkpoint the tail continues (a
    # run_batch bootstrap would claim epoch 0 and make the stream's own
    # epoch 0 a silent no-op), then resync the mirror
    t0 = time.monotonic()
    pipe = _pipeline(os.path.join(ctx.run_dir, "lake"), True)
    pipe.run_stream(spark, src, ckpt, timeout_sec=170)
    mirror = VectorFeedMirror(pipe.chunks, os.path.join(ctx.run_dir, "mirror"), n_planes=2)
    mirror.resync(spark)
    setup_s = ctx.session_s + (time.monotonic() - t0)
    mark("setup")
    # no untimed warm-up lookups here: they would lengthen the run, and the
    # median of 20 lookups beside a busy epoch ignores the first slow ones
    reader = PointReader(ctx, pipe.pages, size["n_urls"])

    # from here on every span belongs to the tail
    tracer.clear()
    listener = StreamListener(spark) if ctx.trace else None
    stop = threading.Event()
    sync_errors = []

    def consumer():
        while not stop.is_set():
            try:
                if mirror.sync(spark) == "noop":
                    stop.wait(0.1)
            except Exception as e:  # noqa: BLE001 - recorded, fails the run
                sync_errors.append(repr(e))
                stop.wait(0.5)

    def chunks_sids() -> dict[int, int]:
        return {e: s["counts"]["snapshot_id"]
                for e, s in tracer.by_epoch("lake.merge_sets[chunks]").items()
                if "snapshot_id" in s["counts"]}

    query = pipe.run_stream(spark, src, ckpt, available_now=False)
    th = threading.Thread(target=consumer, name="mirror-consumer", daemon=True)
    th.start()
    try:
        # open-loop release: segment i is due at start + i * period, whatever
        # the engine is doing. The window is the second half of one interval
        # of the stream's processing-time trigger, whose ticks fall on
        # wall-clock multiples of the interval: it closes just before a tick,
        # so every run meets the trigger in the same phase, and the tail's
        # epoch starts as the release ends
        window = min(ctx.seconds, TRIGGER_S) / 2
        period = window / len(tail)
        wall = time.time()
        tick = (int((wall + 0.5 + window) // TRIGGER_S) + 1) * TRIGGER_S
        release_start = time.monotonic() + (tick - 0.2 - window - wall)
        scheduled, late, backlog = [], [], []
        released = 0
        for i, (f, n) in enumerate(zip(tail, names[len(boot):])):
            due = release_start + i * period
            while True:
                now = time.monotonic()
                backlog.append((now - release_start, released - _applied(tracer)))
                if now >= due:
                    break
                time.sleep(min(0.05, due - now))
            copy_release(f, src, n)
            late.append((time.monotonic() - due) * 1000.0)
            scheduled.append(due)
            released += tail_rows[i]
        release_end = time.monotonic()
        mark("release")

        # drain: everything released is applied and the mirror has caught up.
        # The generator thread is idle now, so it is the point-read client: its
        # lookups run while the tail drains (reads beside writes)
        def caught_up():
            sids = chunks_sids()
            return (_applied(tracer) >= released and bool(sids)
                    and mirror.cursor >= sids[max(sids)])

        deadline = time.monotonic() + 150
        drained = False
        while time.monotonic() < deadline and query.exception() is None:
            if caught_up():
                drained = True
                break
            backlog.append((time.monotonic() - release_start, released - _applied(tracer)))
            if len(reader.lat) < TAIL_READS:
                reader.one()
            else:
                time.sleep(0.1)
        drain_s = time.monotonic() - release_end
    finally:
        query.stop()
        stop.set()
        th.join()
    stream_exc = query.exception()
    mark("drain")

    applies = tracer.by_epoch("driver.apply_batch")
    tail_epochs = sorted(applies)
    batch_of = checkpoint_file_batches(ckpt)
    # a lookup may see the bootstrap state or the state after any tail
    # commit that overlaps it
    states = _states(boot_state, files, batch_of, tracer.by_epoch("lake.merge_lww[pages]"))
    reads = reader.finish(TAIL_READS, states)
    mark("point_reads")

    syncs = [s for s in tracer.named("mirror.sync") if not s["counts"].get("noop")]
    ctx.attempted += len(tail_epochs) + len(syncs)
    ctx.failed += len(sync_errors) + (0 if stream_exc is None else 1)
    epoch_s = [applies[e]["end"] - applies[e]["start"] for e in tail_epochs]
    sync_s = [s["end"] - s["start"] for s in syncs]

    pages_visible = _visible(tracer, "lake.merge_lww[pages]")
    chunks_visible = _visible(tracer, "lake.merge_sets[chunks]")
    sids = chunks_sids()
    fp, fc, fm = [], [], []
    for name, due in zip(names[len(boot):], scheduled):
        e = batch_of.get(name)
        if e is None or e not in pages_visible:
            continue
        fp.append(pages_visible[e] - due)
        if e in chunks_visible:
            fc.append(chunks_visible[e] - due)
        seen = [s["end"] for s in syncs if e in sids and s["counts"].get("cursor", -1) >= sids[e]]
        if seen:
            fm.append(min(seen) - due)
    ok_samples = len(fp) == len(tail) and len(fm) == len(tail)
    fp_s, fc_s, fm_s = _freshness(fp or [0.0]), _freshness(fc or [0.0]), _freshness(fm or [0.0])

    ctx.checks.add("stream_healthy", stream_exc is None and not sync_errors,
                   {"stream": None if stream_exc is None else str(stream_exc)[:300],
                    "sync_errors": sync_errors[:3]})
    ctx.checks.add("drained", drained, {"drain_s": drain_s})
    ctx.checks.add("applied_equals_released", _applied(tracer) == released,
                   {"applied": _applied(tracer), "released": released})
    ctx.checks.add("every_segment_sampled", ok_samples,
                   {"segments": len(tail), "pages": len(fp), "mirror": len(fm)})

    check_pages_state(ctx.checks, spark, pipe, fold)
    check_transform_sample(ctx.checks, spark, pipe, fold, ctx.seed, with_chunks=True)
    ctx.checks.add("mirror_diff_zero", mirror.diff_vs_source(spark) == 0)
    mark("checks")
    storage = dir_bytes(os.path.join(ctx.run_dir, "lake")) + dir_bytes(mirror.path)
    last_visible = max(pages_visible.values()) if pages_visible else release_end
    e2e = {
        "setup_s": setup_s,
        "events_per_s": _applied(tracer) / (last_visible - release_start),
        "freshness_pages_p50_s": fp_s["p50"],
        "freshness_pages_p95_s": fp_s["p95"],
        "freshness_visible_p50_s": fm_s["p50"],
        "freshness_visible_p95_s": fm_s["p95"],
        "point_read_p50_ms": reads["p50"],
        "storage_mb": storage / 1e6,
    }
    details.update(
        rate_events_per_s=sum(tail_rows) / window, segment_rate_per_s=len(tail) / window,
        tail_epochs=len(tail_epochs), mirror_syncs=len(syncs),
        freshness_samples={"pages": fp_s["n"], "chunks": fc_s["n"], "mirror": fm_s["n"]},
        freshness_chunks_p50_s=fc_s["p50"], freshness_chunks_p95_s=fc_s["p95"],
        gen_late_p95_ms=pct(late, 95), backlog_max=max(b for _, b in backlog),
        drain_s=drain_s, point_reads=reads["n"], point_read_ms=reads["ms"],
        tail_epoch_s=epoch_s, mirror_sync_s=sync_s,
        backlog_series=[(round(t, 3), b) for t, b in backlog[:: max(1, len(backlog) // 60)]],
    )
    layers = None
    if ctx.trace:
        extra = _layer_extras(ctx, tail[: max(1, len(tail) // max(1, len(tail_epochs)))])
        extra["stage.chunks.freshness_p50_s"] = fc_s["p50"]
        extra["stage.chunks.freshness_p95_s"] = fc_s["p95"]
        lr = mirror.index.live_rows(spark)
        extra["mirror.rows"] = lr.count() if lr is not None else 0
        live = sum(os.path.getsize(f) for t in (pipe.pages, pipe.chunks)
                   for fs in t.bucket_files().values() for f in fs)
        stream_wall = (last_visible - release_start)
        layers = _trace_layers(tracer, listener, tail_epochs, stream_wall, live,
                               reads["timed_from"], extra, details)
        listener.stop()
        tracer.write(os.path.join(ctx.run_dir, "..", "traces",
                                  f"live_tail-{ctx.seed}.json"), {"details": details})
    shutil.rmtree(src, ignore_errors=True)
    return e2e, layers, details


WORKLOADS = {"bulk_replay": bulk_replay, "live_tail": live_tail}
