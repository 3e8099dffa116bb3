"""Shared pieces of the benchmark: the Spark session, seeded inputs with a
content-keyed cache, the DuckDB last-writer-wins oracle, the correctness
checks and the percentile helper."""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import shutil
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
GEN_PY = os.path.join(ROOT, "changedatacapture_spark", "gen.py")


def pct(values, q: float) -> float:
    """Linear-interpolated percentile (q in 0..100) of a non-empty list."""
    xs = sorted(values)
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def build_spark(cores: int, work: str):
    from pyspark.sql import SparkSession

    # every file the run writes stays under ``work``: Spark's scratch space,
    # the JVM's temp dir, and no JVM perf-counter file in /tmp
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"perfbench-{cores}")
        .config("spark.executorEnv.PYTHONPATH", ROOT)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", local)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={local} -XX:-UsePerfData")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "5000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def file_digest(paths) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()


def segment_files(log_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(log_dir, "*.parquet")))


def generate_log(spark, out: str, seed: int, params: dict, segments: list[int]) -> str:
    """Generate a change log with ``gen.generate_bench`` and cut it, in
    binlog order, into files of exactly ``segments`` row counts in ``out``.

    Spark writes the log as one sorted file (one range partition needs no
    sampling job) and pyarrow re-cuts it: that is cheaper than a Spark file
    per segment, for hundreds of tiny release segments most of all. Every
    run generates its input in-process before set-up, so the engine always
    starts from the same JVM state (a reused log would leave the JIT colder
    and move about ten seconds into set-up)."""
    from changedatacapture_spark import gen

    raw = out + ".raw"
    gen.generate_bench(spark, raw, seed=seed, testdata_dir=None, n_segments=1, **params)
    _resegment(raw, out, segments, gen._arrow_envelope_schema())
    shutil.rmtree(raw)
    return out


def pin_inputs(checks: "Checks", name: str, seed: int, params: dict, files) -> str:
    """Content digest of the generated log, pinned in a registry keyed by
    the seed, the generation parameters and a digest of ``gen.py``: the
    first run of a key in a checkout records the digest, every later run
    there must reproduce it."""
    import duckdb

    key = hashlib.sha256(
        json.dumps({"name": name, "seed": seed, "params": params,
                    "gen_py": file_digest([GEN_PY])}, sort_keys=True).encode()
    ).hexdigest()[:16]
    con = duckdb.connect()
    try:
        # logical digest (Spark's parquet bytes are not a stable encoding)
        digest = con.execute(
            """select sha256(string_agg(concat_ws('|', source.pos, op,
                      coalesce(after.url, before.url),
                      coalesce(after.warc_ts, before.warc_ts), md5(hex(after.html))),
                      ',' order by source.pos))
               from read_parquet(?)""",
            [list(files)],
        ).fetchone()[0]
    finally:
        con.close()
    path = os.path.join(WORK, "inputs.json")
    pinned = {}
    if os.path.exists(path):
        with open(path) as f:
            pinned = json.load(f)
    want = pinned.setdefault(key, digest)
    checks.add("input_digest_pinned", want == digest, {"key": key, "digest": digest})
    tmp = path + f".{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
    os.replace(tmp, path)
    return digest


def _resegment(raw: str, out: str, sizes: list[int], schema) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.concat_tables(pq.read_table(f).cast(schema) for f in segment_files(raw))
    assert sum(sizes) == table.num_rows, (sum(sizes), table.num_rows)
    os.makedirs(out)
    at = 0
    for i, n in enumerate(sizes):
        pq.write_table(table.slice(at, n), os.path.join(out, f"seg-{i:05d}.parquet"))
        at += n


def dir_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def segment_rows(files) -> list[int]:
    import pyarrow.parquet as pq

    return [pq.ParquetFile(f).metadata.num_rows for f in files]


# ---------------------------------------------------------------------------
# Oracle and checks (always outside the timed windows)
# ---------------------------------------------------------------------------


def lww_fold(files) -> dict[str, tuple[int, bytes | None]]:
    """Last-writer-wins fold of the change log in DuckDB: for each url the
    event with the highest (event time, binlog pos); live unless it is a
    delete. Returns url -> (winning pos, html) for live urls."""
    import duckdb

    con = duckdb.connect()
    try:
        rows = con.execute(
            """
            with ev as (
              select op,
                     coalesce(after.url, before.url) as url,
                     coalesce(after.warc_ts, before.warc_ts) as ts,
                     source.pos as pos,
                     after.html as html
              from read_parquet(?)
              where op is not null and source is not null
            )
            select url, pos, op, html from ev
            where url is not null
            qualify row_number() over (partition by url order by ts desc, pos desc) = 1
            """,
            [list(files)],
        ).fetchall()
    finally:
        con.close()
    return {u: (int(p), h) for u, p, op, h in rows if op != "d"}


class Checks:
    """Named pass/fail results; any failure fails the run."""

    def __init__(self):
        self.results: dict[str, bool] = {}
        self.notes: dict[str, object] = {}

    def add(self, name: str, ok: bool, note=None) -> None:
        self.results[name] = bool(ok)
        if note is not None:
            self.notes[name] = note

    @property
    def ok(self) -> bool:
        return bool(self.results) and all(self.results.values())


def check_pages_state(checks: Checks, spark, pipe, fold) -> None:
    got = {r["url"]: int(r["pos"]) for r in pipe.pages.read(spark).select("url", "pos").collect()}
    want = {u: p for u, (p, _h) in fold.items()}
    bad = len(set(got.items()) ^ set(want.items()))
    checks.add("pages_state_equals_duckdb_fold", bad == 0, {"live_urls": len(want), "mismatches": bad})


def check_transform_sample(checks: Checks, spark, pipe, fold, seed: int, with_chunks: bool,
                           n: int = 25) -> None:
    """Byte-identity of the stored text (and chunks) with the Python oracle
    ports on a seeded sample of live urls."""
    from pyspark.sql import functions as F

    from changedatacapture_spark import oracle

    urls = sorted(fold)
    sample = random.Random(seed).sample(urls, min(n, len(urls)))
    texts = {
        r["url"]: r["text"]
        for r in pipe.pages.read(spark).where(F.col("url").isin(sample)).select("url", "text").collect()
    }
    want_text = {u: oracle.html_to_text(bytes(fold[u][1])) for u in sample}
    checks.add("text_equals_oracle", texts == want_text, {"sampled": len(sample)})
    if not with_chunks:
        return
    got: dict[str, list] = {u: [] for u in sample}
    for r in (
        pipe.chunks.read(spark)
        .where(F.col("url").isin(sample))
        .select("url", "chunk_index", "content")
        .collect()
    ):
        got[r["url"]].append((r["chunk_index"], r["content"]))
    got = {u: [c for _i, c in sorted(v)] for u, v in got.items()}
    want = {u: [c["content"] for c in oracle.chunk_by_sections(want_text[u])] for u in sample}
    checks.add("chunks_equal_oracle", got == want, {"sampled": len(sample)})


def copy_release(src: str, dst_dir: str, name: str) -> None:
    """Publish one segment file atomically (hidden temp name, then rename)
    with its mtime set to the release instant."""
    tmp = os.path.join(dst_dir, "." + name + ".tmp")
    shutil.copyfile(src, tmp)
    now = time.time()
    os.utime(tmp, (now, now))
    os.rename(tmp, os.path.join(dst_dir, name))


def checkpoint_file_batches(ckpt: str) -> dict[str, int]:
    """Released file name -> micro-batch (epoch) id, from the checkpoint's
    file-source log."""
    out: dict[str, int] = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(p) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out
